package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join/segmentation operators Spark's built-in API lacks,
  * shaped for the 100 TB regime:
  *
  *  - **as-of join** — each left row picks the LATEST right row with
  *    `rightTime <= leftTime` for its key (point-in-time enrichment:
  *    "the dimension state this event saw"). Spark has no ASOF JOIN;
  *    the naive rewrite (inequality join + per-key argmax) explodes to
  *    O(left × right-per-key) pairs before collapsing. This one is the
  *    union-sort formulation: tag both sides, ONE hash exchange on the
  *    key, one sort per partition, and a running last-non-null carry —
  *    O((|L|+|R|) log) with zero join blow-up, the same shape kdb's aj
  *    and Flink's temporal join execute.
  *  - **range join** — point-in-interval pairing without a cartesian:
  *    intervals explode to the fixed-width time bins they cover, points
  *    map to exactly one bin, and the pairing becomes a bin equi-join +
  *    containment filter. Each qualifying pair is emitted exactly once
  *    (the point's bin), so no post-dedup pass. Candidate volume is
  *    O(pairs actually overlapping ± bin slack) instead of |P|·|I|;
  *    bin width is the cost knob (≈ typical interval length keeps the
  *    explode factor ≤ 2).
  *  - **sessionize** — gaps-and-islands segmentation (events closer
  *    than `gapMicros` share a session). One exchange + sort per key;
  *    the break flag and its running sum share the same window spec, so
  *    Catalyst plans a single shuffle.
  *
  * Determinism discipline: all time arithmetic is in epoch MICROSECONDS
  * (`unix_micros`), exact integers in any engine — the q46–q48 oracle
  * gates hash-compare against DuckDB.
  */
object Temporal {

  /** Epoch micros of a timestamp column; accepts TIMESTAMP_NTZ too
    * (parquet without tz metadata) — under a UTC session the cast is the
    * identity interpretation, keeping the math engine-portable. */
  private def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** As-of (point-in-time) left join.
    *
    * For every `left` row, attach `payload` columns (prefixed
    * `asof_`) from the `right` row with the greatest
    * `(rightTime, tieBreak)` such that `rightTime <= leftTime` and
    * `rightKey == leftKey`; rows with no such match keep null payloads.
    * `tieBreak` must be unique within a `(rightKey, rightTime)` group —
    * dedupe the right side first if it is not (q46 collapses ties with
    * `max_by` before calling).
    *
    * Plan shape: union of the tagged sides → one exchange on the key →
    * one sort by `(time, side, tieBreak)` → running `last(_, ignoreNulls)`
    * carry. Right rows sort BEFORE left rows at equal times, so the
    * match is inclusive (`rightTime == leftTime` wins). Hot keys cannot
    * be salted (the carry needs the key's full history in order) — at
    * skew, split by time range per key upstream. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tieBreak: String, payload: Seq[String]): DataFrame = {
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"), lit(null).cast(right.schema(tieBreak).dataType).as("__tie"),
      lit(null).cast(org.apache.spark.sql.types.StructType(
        payload.map(p => right.schema(p)))).as("__r"),
      struct(left.columns.map(col).toSeq: _*).as("__l"))
    val r = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"),
      lit(0).as("__side"), col(tieBreak).as("__tie"),
      struct(payload.map(col): _*).as("__r"),
      lit(null).cast(org.apache.spark.sql.types.StructType(
        left.schema.fields)).as("__l"))
    val w = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__side").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__carry", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    carried.select(
      left.columns.toSeq.map(c => col(s"__l.$c").as(c)) ++
        payload.map(p => col(s"__carry.$p").as(s"asof_$p")): _*)
  }

  /** Point-in-interval range join: every (`points` row, `intervals` row)
    * pair with `startCol <= pointTime <= endCol` (inclusive both ends),
    * carrying all columns of both sides. Intervals with `end < start`
    * match nothing. `binSeconds` buckets time; an interval explodes into
    * `length/binSeconds + 1` bin rows, a point lands in exactly one bin,
    * so each qualifying pair meets exactly once and the join is a plain
    * bin equi-join — never a cartesian. Pick `binSeconds` near the
    * typical interval length. */
  def rangeJoinBinned(points: DataFrame, pointTime: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binSeconds: Long): DataFrame = {
    require(binSeconds > 0, s"binSeconds must be positive: $binSeconds")
    val binMicros = binSeconds * 1000000L
    val iv = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__bin", explode(sequence(
        floor(micros(col(startCol)) / binMicros),
        floor(micros(col(endCol)) / binMicros))))
    val pt = points.withColumn("__bin",
      floor(micros(col(pointTime)) / binMicros))
    pt.join(iv, Seq("__bin"))
      .filter(col(pointTime) >= col(startCol) && col(pointTime) <= col(endCol))
      .drop("__bin")
  }

  /** Interval-stabbing aggregate at DAY granularity: for every `points`
    * row, the COUNT of `intervals` rows whose `[startCol, endCol]` day
    * range covers the point's day (`n_open`), plus the SUM of each
    * weight column over those covering intervals — without ever
    * materializing the point×interval pair set.
    *
    * When the consumer aggregates per point, a pair-producing range join
    * ([[rangeJoinBinned]]) is the wrong primitive at density: N points/day
    * × M overlapping intervals/day makes the TRUE pair set O(N·M·days)
    * (q47's inputs at sf0.1 reach ~10^8 pairs before the aggregate —
    * measured 37 s; no bin width fixes output size). This is the classic
    * difference-array sweep instead:
    *
    *  1. each interval emits (+1, +w) at its start day and (-1, -w) at
    *     end+1 — map-side-combined into ≤ 2·days delta rows;
    *  2. a running sum over the densified calendar gives per-day totals —
    *     the calendar is METADATA-SCALE (a century is 36 525 rows), so
    *     the single-partition window is free and justified;
    *  3. points broadcast-equi-join their day — zero shuffle on the big
    *     side, no pairs, O(|P| + |I| + days) total.
    *
    * Exact when both columns are dates or midnight timestamps (q47's
    * shape); sub-day granularity is the same construction over
    * fixed-width epoch bins. Weight sums are exact for integer-valued
    * weights (double addition of integers is order-independent; the
    * running sum coalesces through double 0.0, so fractional decimal
    * weights lose decimal exactness — cast upstream if that matters).
    * Points on days covered by zero intervals are dropped (inner-join
    * semantics, matching the pair-join + GROUP BY formulation), and a
    * point covered ONLY by NULL-weight intervals reports weight 0.0
    * where the brute pair-join SUM would report NULL.
    *
    * Cost/robustness caveats: the densified calendar scales with the
    * data's date SPAN, not volume — one sentinel date (9999-12-31)
    * inflates the "metadata-scale" calendar to millions of rows; clamp
    * or validate the date domain upstream. Output columns `n_open`,
    * `__d` and the weight output names are reserved (fail-fast below). */
  def stabbingAggregate(points: DataFrame, pointDate: String,
      intervals: DataFrame, startCol: String, endCol: String,
      weights: Seq[(String, String)]): DataFrame = {
    val reserved = Set("n_open", "__d") ++ weights.map(_._2)
    val clash = points.columns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"points columns collide with reserved output names: ${clash.mkString(", ")}")
    val iv = intervals.filter(col(endCol) >= col(startCol))
    // both delta rows (+ at start, − past end) come from ONE interval
    // scan via explode — the two-sided union scanned the interval table
    // twice; the aggregated delta table (≤ 2·days rows) is
    // local-checkpointed because BOTH the calendar-bounds aggregate and the
    // calendar join consume it, which re-executed the whole scan+aggregate
    // per consumer
    def side(day: Column, sign: Int): Column =
      struct(day.as("__d") +:
        lit(sign.toLong).as("__n") +:
        weights.map { case (c, out) => (col(c) * sign).as(out) }: _*)
    val deltas = iv
      .select(explode(array(
        side(to_date(col(startCol)), 1),
        side(date_add(to_date(col(endCol)), 1), -1))).as("__e"))
      .select(col("__e.*"))
      .groupBy(col("__d"))
      .agg(sum(col("__n")).as("__n"),
        weights.map { case (_, out) => sum(col(out)).as(out) }: _*)
      .localCheckpoint(eager = false)
    // densify the calendar so every point day has an exact running value
    // (one row → explode; bounded by the date domain, not data volume)
    val days = deltas.agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("__d"))
    val w = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = days.join(broadcast(deltas), Seq("__d"), "left")
      .select(col("__d") +:
        sum(coalesce(col("__n"), lit(0L))).over(w).as("n_open") +:
        weights.map { case (_, out) =>
          sum(coalesce(col(out), lit(0.0))).over(w).as(out) }: _*)
    points.join(broadcast(cum), to_date(col(pointDate)) === col("__d"))
      .filter(col("n_open") > 0)
      .drop("__d")
  }

  /** Gaps-and-islands sessionization: adds `session_seq` (1-based per
    * key, in `(timeCol, orderCol)` order) — a new session starts when
    * the gap to the previous event exceeds `gapMicros`. `orderCol`
    * breaks time ties deterministically (use a unique event id). */
  def sessionize(df: DataFrame, keyCol: String, timeCol: String,
      orderCol: String, gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol).asc, col(orderCol).asc)
    val prev = lag(micros(col(timeCol)), 1).over(w)
    df.withColumn("__brk",
        when(prev.isNull || micros(col(timeCol)) - prev > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__brk")
  }
}
