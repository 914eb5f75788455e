package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => SourceOffset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable

/** `spark.readStream.format("graft").load(root)` — the lake table as a
  * STRUCTURED STREAM: each micro-batch delivers the rows whose winning
  * state changed between the previous and current snapshot versions
  * (a [[LakeTable.changeFeed]] snapshot diff under checkpointed offsets
  * — the Delta/Iceberg "table as a stream" face, push-style CDC
  * consumption without a message bus).
  *
  * Exactly-once mechanics:
  *  - an OFFSET is a SNAPSHOT VERSION. `getOffset` reports the current
  *    head; `getBatch(v1, v2)` delivers the SNAPSHOT DIFF between the
  *    two pinned versions — [[LakeTable.changeFeed]] projected to
  *    insert/update after-images (a deletion is inexpressible in this
  *    mode and is dropped; consumers that need deletions use the CDF
  *    mode). Both ends are pinned manifests, so a replayed (v1, v2]
  *    after a crash rebuilds the identical batch — provided the
  *    snapshots are retained, the standard streaming-read retention
  *    contract ([[LakeTable.expireSnapshots]]'s keepLast must outlive
  *    checkpoint lag, exactly like Delta's streaming source vs VACUUM).
  *    A snapshot diff is correct under LAGGING SOURCE PARTITIONS: the
  *    applier's delivery contract is per-source-partition monotone seq,
  *    so a batch committed from a lagging binlog partition carries
  *    winning seqs BELOW other partitions' already-committed maxima — a
  *    global seq watermark (the r4 design) would skip those rows
  *    forever, while the version diff sees every key whose state
  *    changed, whatever its seq.
  *  - candidate keys come only from files disturbed between the
  *    versions, so each batch's scan is proportional to the churn since
  *    the last trigger, never table size; delete files and rename
  *    mappings resolve inside the state reads, so a merge-on-read table
  *    streams correctly between compactions.
  *  - maintenance commits (compaction, consolidation, expiry) advance
  *    the version but not the table state → empty micro-batches, no
  *    duplicate delivery.
  *
  * Schema is pinned at stream start (the standard structured-streaming
  * contract); rows from later, wider snapshots are conformed to it —
  * restart the stream to pick up promoted columns.
  *
  * `option("startingVersion", v)`: version v is the baseline — the
  * first batch diffs against it (default: deliver the whole existing
  * table as the first batch, then increments).
  *
  * `option("changeFeed", "true")`: micro-batches are ROW-LEVEL CHANGES
  * instead of new winners — [[LakeTable.changeFeed]] between the two
  * offset versions, so consumers see insert / update / DELETE rows with
  * before/after images (the plain mode cannot express a deletion at
  * all). The first batch materializes the whole table as inserts unless
  * `startingVersion` pins a baseline. Replay determinism and the
  * retention contract are unchanged: both ends of every interval are
  * pinned snapshots. */
class GraftStreamSource(spark: SparkSession, root: String,
    startingVersion: Option[Long], declaredSchema: StructType,
    cdf: Boolean = false) extends Source {

  private val lake = new LakeTable(root, spark)

  override def schema: StructType = declaredSchema

  override def getOffset: Option[SourceOffset] =
    lake.currentVersion.map(LongOffset(_))

  override def getBatch(start: Option[SourceOffset], end: SourceOffset): DataFrame = {
    val endV = end match {
      case LongOffset(v) => v
      case o => o.json().toLong
    }
    val startV = start
      .map { case LongOffset(v) => v; case o => o.json().toLong }
      .orElse(startingVersion)
    // ONE change feed per interval: the snapshot diff over (v, endV], or,
    // with no baseline, the existing table as inserts
    val changes = startV match {
      case Some(v) => lake.changeFeed(v, endV)
      case None =>
        val t = lake.read(Some(endV))
        val img = t.schema.fields.filterNot(f => f.name == "repo" || f.name == "path")
        t.select(col("repo"), col("path"), lit("insert").as("change_type"),
          lit(null).cast(StructType(img)).as("before"),
          struct(img.map(f => col(f.name)).toIndexedSeq: _*).as("after"))
    }
    // plain mode: the feed's after-images, exactly the keys whose winning
    // state changed, at O(churn) scan cost
    val feed =
      if (cdf) changes
      else changes.filter(col("change_type") =!= "delete")
        .select(col("repo"), col("path"), col("after.*"))
    // conform to the pinned schema: later snapshots may be wider
    val conformed = feed.select(LakeTable.conform(feed, declaredSchema): _*)
    // MicroBatchExecution asserts isStreaming on the returned frame; the
    // inner plan stays lazy (toRdd builds lineage, executes per trigger)
    org.apache.spark.sql.GraftSparkInternals.dataFrame(
      spark, conformed.queryExecution.toRdd, conformed.schema, isStreaming = true)
  }

  override def commit(end: SourceOffset): Unit = ()

  override def stop(): Unit = ()
}
