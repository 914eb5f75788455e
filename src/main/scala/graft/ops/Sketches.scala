package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cardinality sketches for training-data pipelines: HyperLogLog distinct
  * counts (Flajolet, Fusy, Gandouet, Meunier 2007) built from pure column
  * expressions — no UDF, no float drift.
  *
  * Why a sketch at 100 TB: exact `count(distinct content)` shuffles every
  * distinct value; the HLL register vector is a CONSTANT 2^p longs per
  * group, is computed by ONE map-side-combined hash aggregate over the
  * scan, and is MERGEABLE — per-partition / per-batch / per-day sketches
  * union with an element-wise max ([[hllMerge]]), so incremental corpus
  * accounting (e.g. dedup planning per language/source) never rescans
  * history. Shuffle volume is O(groups × 2^p × 8 B), independent of
  * corpus size.
  *
  * Cross-engine determinism (the oracle gate, q34): the hash is the
  * first 14 hex chars of md5 (56 bits, exact in an int64); the register
  * index is the low `p` bits, the rank is integer bit-length arithmetic
  * (binary-string length — no log2, whose round-to-nearest at register
  * boundaries differs between engines); the estimator's harmonic sum is
  * kept EXACT by scaling 2^-M to the integer 2^(maxRank-M) (≤ 2^51·2^p
  * fits an int64), so the only floating-point steps are one division and
  * one multiplication of exactly-representable values — bit-identical
  * under IEEE 754 in any engine.
  */
object Sketches {

  /** Bias-correction constant alpha_m (HLL paper, figure 3). */
  private[ops] def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  private val HexChars = 14 // 56 bits of md5 — exact in a signed int64

  /** Per-row (register, rank) from the text hash: register = low p bits,
    * rank = 1 + leading zeros of the remaining (56-p)-bit word. */
  private def regAndRank(text: Column, p: Int): (Column, Column) = {
    val wBits = 4 * HexChars - p
    val maxRank = wBits + 1
    val h = conv(substring(md5(text), 1, HexChars), 16, 10).cast("long")
    val reg = pmod(h, lit(1 << p))
    val w = shiftright(h, p)
    val rank = when(w === 0, lit(maxRank))
      .otherwise(lit(maxRank) - length(conv(w.cast("string"), 10, 2)))
    (reg, rank)
  }

  /** HLL register vector per key group: `hll` = array of 2^p ints, entry
    * j = max rank observed in register j (0 = register never hit — which
    * is exactly the M=0 the estimator expects). NULL texts contribute
    * nothing (mirroring a SQL oracle's semantics). The vector is the
    * mergeable sketch state.
    *
    * Plan shape: TWO-LEVEL aggregation — (key, register) → max rank,
    * both map-side combined, then one tiny per-key aggregate packs the
    * register list into the fixed-size vector. A single aggregate with
    * 2^p `max(when(reg=j, rank))` columns would be ~m aggregate
    * EXPRESSIONS: at p≥10 that is a 1000+-column plan (codegen blowup,
    * plan-size explosion). The two-level shape keeps the plan O(1) in p;
    * both exchanges move O(groups × 2^p) rows — the same volume the
    * register vectors themselves occupy. */
  def hllRegisters(df: DataFrame, keyCols: Seq[String], textCol: String,
      p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 14, s"p out of range: $p")
    val m = 1 << p
    val (reg, rank) = regAndRank(col(textCol), p)
    val perReg = df.filter(col(textCol).isNotNull)
      .select(keyCols.map(col) :+ reg.cast("int").as("_reg") :+
        rank.cast("int").as("_rank"): _*)
      .groupBy((keyCols :+ "_reg").map(col): _*)
      .agg(max(col("_rank")).as("_m"))
    // register ids are distinct per key by the grouping, so the map is
    // well-defined; entry order in collect_list is irrelevant to it
    perReg.groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(col("_reg"), col("_m"))).as("_pairs"))
      .select(keyCols.map(col) :+
        transform(sequence(lit(0), lit(m - 1)), j =>
          coalesce(element_at(map_from_entries(col("_pairs")), j.cast("int")),
            lit(0))).as("hll"): _*)
  }

  /** Merge two sketches (same p): element-wise max. The union sketch of
    * two corpora — associative, commutative, idempotent. */
  def hllMerge(a: Column, b: Column): Column = zip_with(a, b, (x, y) => greatest(x, y))

  /** Exact integer harmonic-sum denominator: S = Σ_j 2^(maxRank − M_j),
    * i.e. the HLL sum Σ 2^-M scaled by 2^maxRank to stay in int64.
    * Public because it is the cross-engine-comparable sketch summary. */
  def hllS(hll: Column, p: Int): Column = {
    val maxRank = 4 * HexChars - p + 1
    // functions.shiftleft only takes a literal Int shift; the SQL form
    // accepts a column shift
    aggregate(hll, lit(0L), (acc, mj) =>
      acc + call_function("shiftleft", lit(1L), lit(maxRank) - mj))
  }

  /** Raw HLL cardinality estimate from a register vector, floored to a
    * BIGINT: alpha_m · m² · 2^maxRank / S with S exact ([[hllS]]). The
    * small-range linear-counting correction is deliberately NOT applied
    * here (it needs ln, which engines round differently — see
    * [[hllEstimateCorrected]] for production use off the oracle path). */
  def hllEstimate(hll: Column, p: Int = 6): Column = {
    val m = 1 << p
    val maxRank = 4 * HexChars - p + 1
    // (1L << maxRank).toDouble is exact; alpha·m² is one exact
    // power-of-two scaling of alpha — both sides of the oracle compute
    // the identical doubles, so the single divide + multiply + floor
    // chain is bit-identical cross-engine
    floor(lit(alpha(m) * m * m) *
      (lit((1L << maxRank).toDouble) / hllS(hll, p).cast("double"))).cast("long")
  }

  /** Production estimator with the standard small-range correction: if
    * the raw estimate ≤ 2.5·m and some registers are empty, use linear
    * counting m·ln(m/V). Deterministic within one engine; kept off the
    * cross-engine oracle gate because ln is not IEEE-exactly specified. */
  def hllEstimateCorrected(hll: Column, p: Int = 6): Column = {
    val m = 1 << p
    val raw = hllEstimate(hll, p)
    val zeros = size(filter(hll, x => x === 0))
    when(raw <= lit((2.5 * m).toLong) && zeros > 0,
      floor(lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).cast("long"))
      .otherwise(raw)
  }

  /** Heavy hitters (frequent items): every item whose count exceeds
    * `N / (k+1)`, with its EXACT count — the two-phase Misra-Gries
    * pattern (Misra & Gries 1982; the "MG summary" of Agarwal et al.,
    * Mergeable Summaries, PODS 2012).
    *
    * Phase 1 (one pass over the items): each partition runs a k-counter
    * Misra-Gries summary in a `mapPartitions` (justified imperative
    * kernel: the decrement-all step is inherently stateful) and emits at
    * most k candidate items plus its local row count. The union of
    * per-partition summaries is a GUARANTEED superset of the true heavy
    * hitters: if count(x) > N/(k+1) globally then by pigeonhole some
    * partition has count_p(x) > n_p/(k+1), and MG with k counters always
    * retains such an item. Shuffle volume: ≤ k+1 rows per partition,
    * independent of data size.
    *
    * Phase 2 (second pass): exact counts for candidates only — a
    * broadcast LEFT-SEMI join (candidates are ≤ k × partitions rows)
    * followed by one map-side-combined count aggregate, then the
    * exact-integer threshold `cnt · (k+1) > N`. The output is therefore
    * EXACT and deterministic (partitioning affects only the candidate
    * superset, never the result) — which is what makes it oracle-gatable
    * against plain SQL `GROUP BY … HAVING`.
    *
    * At 100 TB: exact top-token accounting (`GROUP BY token`) shuffles
    * every distinct item; this shuffles O(k × partitions) candidates and
    * counts only those. The two passes re-scan the input — callers with
    * a cheap-to-recompute item projection (a tokenizer over a column
    * scan) should prefer the re-scan over persisting an exploded token
    * table. The phase-1 summary itself is persisted (metadata-scale,
    * registered with [[OpCaches]]).
    *
    * Returns one row per heavy hitter: (itemCol, cnt, share). */
  def frequentItems(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = items.sparkSession
    import spark.implicits._
    val ds = items.select(col(itemCol).cast("string")).na.drop().as[String]
    val summary = OpCaches.track(ds.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { x =>
        n += 1
        counters.get(x) match {
          case Some(c) => counters.update(x, c + 1)
          case None if counters.size < k => counters.update(x, 1L)
          case None =>
            counters.filterInPlace((_, c) => c > 1)
              .mapValuesInPlace((_, c) => c - 1)
            ()
        }
      }
      // candidates ride as (item, 0); the partition row count as (null, n)
      counters.keysIterator.map(s => (Option(s), 0L)) ++
        Iterator((Option.empty[String], n))
    }.toDF("item", "np"))
    val total = summary.filter(col("item").isNull)
      .agg(sum(col("np"))).head().getLong(0)
    val cand = summary.filter(col("item").isNotNull)
      .select(col("item").as(itemCol)).distinct()
    items.join(broadcast(cand), Seq(itemCol), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k + 1L) > lit(total))
      .withColumn("share", col("cnt").cast("double") / lit(total.toDouble))
  }

  /** Fixed-width-bin histogram quantiles per key group — the mergeable
    * quantile sketch a corpus pipeline uses for sequence-length
    * distributions (truncation/packing budgets are set from p50/p90/p99
    * of token or char lengths, and an exact distributed quantile needs a
    * global sort).
    *
    * Sketch state is the (bin → count) histogram: ONE map-side-combined
    * hash aggregate over the scan, mergeable across partitions / batches
    * / days by summing counts, O(groups × bins) rows total. The reported
    * quantile is the smallest bin UPPER bound covering ≥ ⌈q·n⌉ rows — a
    * conservative bound with error ≤ `binWidth`, deterministic in exact
    * integer counts (the q·n product and its ceil are the only float
    * steps, both IEEE-identical cross-engine). The per-group cumulative
    * walk runs over bins, not rows — metadata-scale after the aggregate.
    *
    * NULL values carry no length information and are excluded (engines
    * disagree on NULL sort order, so they cannot ride the bin walk).
    *
    * Returns one row per key group: keyCols, `n` (exact non-null count),
    * and one `p<Q>_ub` column per requested quantile. */
  def histogramQuantiles(df: DataFrame, keyCols: Seq[String], value: Column,
      binWidth: Long, qs: Seq[Double]): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0), s"bad quantiles: $qs")
    import org.apache.spark.sql.expressions.Window
    // integer `div` (not float /): bins stay exact however large `value`
    val bin = call_function("div", value.cast("long"), lit(binWidth))
    val hist = df.filter(value.isNotNull)
      .groupBy(keyCols.map(col) :+ bin.as("_bin"): _*)
      .agg(count(lit(1)).as("_cnt"))
    val wc = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_bin"))
    val wt = Window.partitionBy(keyCols.map(col): _*)
    val cum = hist
      .withColumn("_cum", sum(col("_cnt")).over(wc))
      .withColumn("_total", sum(col("_cnt")).over(wt))
    val qCols = qs.map { q =>
      min(when(col("_cum") >= ceil(lit(q) * col("_total")),
        (col("_bin") + 1) * binWidth)).as(s"p${(q * 100).round}_ub")
    }
    cum.groupBy(keyCols.map(col): _*)
      .agg(max(col("_total")).as("n"), qCols: _*)
  }
}
