package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.apply.CdcApplier
import graft.codec.ConcatJson
import graft.lake.LakeTable
import graft.repair.Repair
import graft.validate.Validate

/** End-to-end micro-batch pipeline: the one-Spark-application collapse of
  * the reference's five-job Glue workflow (SURVEY.md §3.1) —
  * decode → validate/quarantine → repair → LWW MERGE → commit,
  * all one lazily-planned DAG per batch.
  *
  * Decode uses the fused typed codec ([[ConcatJson.decodeTyped]]): one
  * Jackson factory per partition, char[]-backed parsers, payload kept as
  * raw JSON unless a batch promotes payload columns. Profiling showed
  * per-row parser construction inside `from_json` (plus ICU `lower`)
  * dominating wire-replay CPU; the typed path removes both.
  */
object CdcPipeline {

  /** Canonical value columns entering the lake (input_hint shape + seq). */
  private val canonical = Seq("repo", "path", "commit", "lang", "content", "seq")

  /** The wire prefix of every blob batch: fused typed decode
    * ([[ConcatJson.decodeTyped]]) with unparsable candidates' raw text in
    * `_corrupt` (what [[Validate]]'s `corrupt_json` rule reads). Columns
    * keep the raw wire shape: v1 events carry `commit_lang`, and
    * `commit`/`lang` stay NULL until [[resolveVariants]]. */
  def decode(blobs: Dataset[String]): DataFrame =
    ConcatJson.decodeTyped(blobs).toDF()
      .withColumn("_corrupt", when(col("corrupt"), col("raw")))

  /** Schema-variant resolution (P5): a v2 explicit `commit`/`lang` wins,
    * the v1 composite `commit_lang = "<commit>#<lang>"` is the fallback
    * (`data_profiling.py:73-86`). Input: the [[decode]] shape. */
  def resolveVariants(df: DataFrame): DataFrame = df
    .withColumn("commit", coalesce(col("commit"),
      when(col("commit_lang").contains("#"),
        substring_index(col("commit_lang"), "#", 1))))
    .withColumn("lang", coalesce(col("lang"),
      when(col("commit_lang").contains("#"),
        element_at(split(col("commit_lang"), "#"), -1))))

  /** Process one batch of raw concatenated-JSON blobs into the lake.
    * `promote` names payload fields to lift into lake columns (schema
    * evolution); `registry` switches validation from the global rule set
    * to per-(service, kind) dispatch ([[Validate.routeByClass]]) — the
    * reference's per-`{service}_{type}` Cerberus-schema selection.
    * Returns (committedVersion, quarantined DataFrame). */
  def processBlobs(spark: SparkSession, blobs: Dataset[String], lake: LakeTable,
      batchId: String, promote: Seq[String] = Nil,
      registry: Option[Validate.RuleRegistry] = None,
      mergeOnRead: Boolean = false): (Long, DataFrame) = {
    // NOTE on parallelism: blobs are coarse (a blob ≈ one Firehose file),
    // so decode concurrency is governed by the SOURCE partitioning —
    // size `spark.sql.files.maxPartitionBytes` so the scan yields at
    // least one split per core (a shuffle here would double-handle the
    // raw bytes; tuning the scan split size is free).
    val raw = decode(blobs)
    // registry dispatch validates the RAW wire shape (variants reason
    // about commit_lang vs commit/lang); the global rule set validates
    // post-resolution, where `commit` is already coalesced. Both observe
    // their counts in the batch's own plan (zero extra passes);
    // `applyBatch` commits them into the snapshot's lineage.
    val (clean, dirty) = registry match {
      case Some(reg) =>
        val (c, d) = Validate.routeByClass(raw, reg)
        (resolveVariants(c), d)
      case None => Validate.routeObserved(resolveVariants(raw))
    }
    val events =
      if (promote.isEmpty)
        clean.select((Seq("op", "part") ++ canonical).map(col): _*)
      else {
        // payload only gets parsed when evolution actually needs it
        val withPayload = clean.withColumn("payload", from_json(
          col("payload_json"),
          graft.core.Model.changeEventSchema("payload").dataType))
        val repaired = Repair.all(withPayload)
        repaired.select(Seq("op", "part").map(col) ++ canonical.map(col) ++
          promote.map(f => col(s"payload.$f").as(f)): _*)
      }
    val applier = new CdcApplier(lake, spark, mergeOnRead = mergeOnRead)
    (applier.applyBatch(events, batchId), dirty)
  }

  /** P6 flatten at reference fidelity (MICROONE_PRED's projection,
    * `convert_to_parquet.py:126-142`): dotted deep-path selects resolved
    * case-insensitively (the reference SQL writes `detail.partitionkey`
    * against JSON `partitionKey`; Spark's default
    * `spark.sql.caseSensitive=false` gives the same), array-of-struct
    * columns preserved AS columns (no explode shuffle), plus one
    * 4-level path (`payload.output.metadata[].filtered_sentences[]`)
    * flattened to a scalar array. Input: decoded events with a parsed
    * `payload` struct. */
  def flattenPrediction(parsed: DataFrame): DataFrame =
    parsed.select(
      col("event_id"), col("repo"), col("path"), col("seq"),
      col("PAYLOAD.PARAGRAPH").as("paragraph"), // case-insensitive resolution
      col("payload.scores").as("input_sentences_scores"), // array<struct> kept nested
      col("payload.output.metadata").as("output_metadata"), // array<struct<…array>>
      flatten(col("payload.output.metadata.filtered_sentences"))
        .as("filtered_sentences_flat"),
      col("payload.stars").as("stars"))

  /** Process a batch already in canonical parquet shape (no codec stage). */
  def processEvents(spark: SparkSession, events: DataFrame, lake: LakeTable,
      batchId: String): Long = {
    val cleanOnly = events.filter(Validate.ownSource(col("source")))
    val applier = new CdcApplier(lake, spark)
    applier.applyBatch(
      cleanOnly.select((Seq("op", "part") ++ canonical).map(col): _*), batchId)
  }
}
