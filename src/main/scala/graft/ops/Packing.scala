package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing: concatenate documents in id order into one
  * token stream and cut it every `budget` tokens — the standard
  * sequence-packing step that turns a filtered corpus into fixed-size
  * training shards.
  *
  * The naive formulation is a GLOBAL running sum
  * (`sum(tokens) over (order by id)`), which Spark plans as an Exchange
  * SinglePartition — one task owns the whole corpus, a non-starter at
  * 100 TB. This implements the classic two-level distributed prefix sum
  * instead:
  *   1. range-partition by id (partition p holds ids strictly below
  *      partition p+1 — ordering is preserved ACROSS partitions) and pin
  *      the partitioning with a local checkpoint so both passes see
  *      identical boundaries (range sampling is otherwise
  *      nondeterministic across recomputes);
  *   2. ONE metadata-scale aggregate of per-partition token totals to the
  *      driver (≤ one row per partition) — scanLeft gives each
  *      partition's exclusive global offset, shipped back as a literal
  *      map (a projection, not a join);
  *   3. a per-partition window (PARTITION BY partition id) computes the
  *      within-partition exclusive running sum in parallel; global
  *      start = partition offset + local prefix.
  * Every stage is parallel over partitions; the only driver-side data is
  * one long per partition.
  */
object Packing {

  /** Assign each document its shard under concatenate-and-cut packing.
    * `tokens` is the document's token count (NULL ⇒ 0). A document's
    * shard is the shard its FIRST token lands in; `shard_off` is that
    * token's offset inside the shard (documents straddle cuts, exactly
    * like training-sequence packing does).
    *
    * Returns (idCol, n_tokens, start_tok, shard_id, shard_off), one row
    * per input row. */
  def packByTokenBudget(df: DataFrame, idCol: String, tokens: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    val base = df.select(col(idCol), coalesce(tokens.cast("long"), lit(0L))
      .as("n_tokens"))
    // checkpoint BEFORE reading partition ids: range boundaries are
    // sampled, so an unpinned plan could re-sample between the offsets job
    // and the final pass and mis-assign offsets
    val parted = base.repartitionByRange(col(idCol))
      .withColumn("_pid", spark_partition_id()).localCheckpoint(eager = false)
    val partSums = parted.groupBy(col("_pid"))
      .agg(sum(col("n_tokens")).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (partSums.isEmpty) -1 else partSums.keys.max
    val offsets: Seq[(Int, Long)] = (0 to maxPid)
      .scanLeft((0, 0L)) { case ((_, acc), p) =>
        (p + 1, acc + partSums.getOrElse(p, 0L)) }
      .dropRight(1).zipWithIndex.map { case ((_, off), p) => (p, off) }
    // empty input ⇒ no partitions observed; a typed dummy entry keeps the
    // (never-evaluated) expression analyzable
    val offMap =
      if (offsets.isEmpty) map(lit(0), lit(0L))
      else map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
    val w = Window.partitionBy(col("_pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("start_tok",
        element_at(offMap, col("_pid")) + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("n_tokens"), col("start_tok"),
        // integer `div`, not `/`: float division loses exactness past
        // 2^53 total tokens (a real corpus size)
        expr(s"start_tok div ${budget}L").as("shard_id"),
        pmod(col("start_tok"), lit(budget)).as("shard_off"))
  }

  /** Fixed-size overlapping token windows per document — the chunking
    * step that bounds every training/retrieval unit to a context window:
    * a window of `win` whitespace tokens starts every `stride` tokens
    * (stride < win ⇒ overlap, the RAG-style chunker; stride = win ⇒
    * disjoint blocks), the last window clamps at the document end.
    *
    * Emits (id, chunk_idx, chunk_tokens, chunk_sha) — the digest instead
    * of the chunk text keeps result rows fixed-width; callers that need
    * the text re-slice by (chunk_idx · stride, win), which is why only
    * deterministic arithmetic goes into the window layout.
    *
    * Pure scan-stage projection + generate (one explode, no shuffle, no
    * UDF): at 100 TB this pipelines inside whole-stage codegen next to
    * the parquet scan. The token array is bound once per row through a
    * lambda variable: a higher-order function re-evaluates non-lambda
    * children per element, which would re-split per window. */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      win: Int, stride: Int): DataFrame = {
    require(win > 0, s"window must be positive: $win")
    require(stride > 0 && stride <= win,
      s"stride must be in [1, win]: stride=$stride win=$win")
    val txt = coalesce(col(textCol), lit(""))
    val toks = when(length(trim(txt)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(txt), "\\s+"))
    df.select(col(idCol), toks.as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col(idCol), col("_toks"),
        posexplode(element_at(transform(array(col("_toks")), w =>
          transform(
            // chunk starts 0, stride, 2·stride … while start < n_tokens
            sequence(lit(0), floor((size(w) - 1) / lit(stride)).cast("int")),
            i => array_join(slice(w, i * stride + 1, lit(win)), " "))), 1)))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        least(lit(win.toLong),
          size(col("_toks")).cast("long") - col("pos").cast("long") * stride)
          .as("chunk_tokens"),
        sha2(col("col"), 256).as("chunk_sha"))
  }
}
