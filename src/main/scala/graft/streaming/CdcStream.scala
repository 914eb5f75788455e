package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftSparkInternals, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.apply.CdcApplier
import graft.lake.LakeTable

/** Typed view of a canonical change event (streaming-state API). */
case class Change(op: String, part: String, repo: String, path: String,
    commit: String, lang: String, content: String, seq: Long)

/** Per-key streaming state: the winning (seq, commit) — O(16B + commit)
  * per live key, the minimum that makes LWW order-insensitive. */
case class KeyState(seq: Long, commit: String)

/** Continuous change-event applier: Structured Streaming tail of the
  * binlog directory → micro-batch MERGE into the lake (the streaming
  * realization of SURVEY.md §2.10).
  *
  * The reference polls an S3 listing per workflow run and fences via a
  * run-properties ledger (`update_workflow_properties.py:68-101`); here
  * the file source does the tailing (`maxFilesPerTrigger` ≙ the 500-file
  * batch cap O2) and exactly-once comes from the ENGINE's own fences,
  * not the sink: `foreachBatch` is at-least-once under crash/retry, but
  * a replayed micro-batch hits (a) the offsets fence (events ≤ committed
  * high-watermark are dropped) and (b) the `(batchId, offsets)`
  * idempotent-commit fence — so re-delivery is a metadata no-op. The
  * checkpointLocation only makes the SOURCE resume where it left off.
  */
object CdcStream {

  /** Wire schema of the canonical change-event stream (explicit — the
    * streaming source never runs inference). */
  val eventSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("part", StringType),
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lang", StringType),
    StructField("content", StringType),
    StructField("seq", LongType)))

  /** The one streaming driver behind every starter: tail `source` under
    * `name`, resuming from `checkpointDir`, run `body` on each
    * micro-batch and then, when `maintainEvery > 0`, `maintenance` after
    * every K-th batch.
    *
    * Maintenance is the scheduling hook that keeps a long-running
    * merge-on-read tail healthy (bounded delete-file count, bounded
    * small files) without an external cron. It runs AFTER the batch's
    * commit, so a crash between them loses only hygiene, never data;
    * the policy's jobs rebase against concurrent commits.
    *
    * `body` gets each micro-batch re-rooted into `source.sparkSession`,
    * the session that started the stream, not the DataFrame of the
    * stream's own session. Every streaming run executes in a CLONE of
    * the caller's session, and each session tags its jobs with its own
    * id, for which executors keep a separate classloader. Spark caches
    * generated code per (classloader, source), so in the clone every
    * run — one per `AvailableNow` trigger — recompiles the whole apply
    * path in its tasks and runs the fresh classes cold. The re-rooted
    * batch is the same already-planned rows (`queryExecution.toRdd`, no
    * decode/re-encode), so only the session that plans and tags the
    * apply path's jobs changes: it is the caller's for every run. */
  private def drive(source: DataFrame, name: String, checkpointDir: String,
      trigger: Trigger, maintainEvery: Int = 0, maintenance: () => Unit = () => ())(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        body(GraftSparkInternals.dataFrame(source.sparkSession,
          batch.queryExecution.toRdd, batch.schema, isStreaming = false), id)
        if (maintainEvery > 0 && (id + 1) % maintainEvery == 0) maintenance()
      }
      .start()

  /** Start tailing `inputDir` (parquet change-event files) into `lake`.
    * `Trigger.AvailableNow` drains everything present then stops —
    * the batch-incremental cadence of the reference; a ProcessingTime
    * trigger makes it a long-running tail. `maintainEvery > 0` runs
    * `maintain` (default [[LakeTable.maintain]]) after every K-th
    * micro-batch ([[drive]]). */
  def start(spark: SparkSession, inputDir: String, lake: LakeTable,
      checkpointDir: String, maxFilesPerTrigger: Int = 500,
      trigger: Trigger = Trigger.AvailableNow(),
      mergeOnRead: Boolean = false, maintainEvery: Int = 0,
      maintain: LakeTable => Seq[Long] = _.maintain()): StreamingQuery = {
    val applier = new CdcApplier(lake, spark, mergeOnRead = mergeOnRead)
    val source = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    drive(source, "graft-cdc-apply", checkpointDir, trigger, maintainEvery,
      () => maintain(lake)) { (batch, id) =>
      applier.applyBatch(batch, s"stream-$id")
    }
  }

  /** Start tailing `blobDir` in the WIRE format — raw concatenated-JSON
    * blob files, the reference's Firehose drop
    * (`update_workflow_properties.py:68-101`) — through the FULL
    * pipeline per micro-batch: split → typed parse (corrupt-byte
    * recovery) → validate/quarantine → schema-variant resolve → MERGE →
    * commit. The `binaryFile` source preserves whole-file blob semantics
    * (a `text` source would split on newlines mid-document);
    * `maxFilesPerTrigger` is the 500-file batch cap (O2). Exactly-once
    * is the engine's own fences, as in [[start]]; quarantined rows are
    * written to `quarantineDir` as a GRAFT TABLE through the
    * transactional sink with the micro-batch id as the commit fence —
    * a replayed micro-batch re-deriving the same dirty rows is a
    * metadata no-op on the dirty side too (streaming replays are always
    * the most recent batch, well inside the applied window). Read it
    * back with `spark.read.format("graft").load(quarantineDir)`.
    * `maintainEvery`/`maintain`: as in [[start]]. */
  def startWire(spark: SparkSession, blobDir: String, lake: LakeTable,
      checkpointDir: String, quarantineDir: Option[String] = None,
      maxFilesPerTrigger: Int = 500,
      trigger: Trigger = Trigger.AvailableNow(),
      mergeOnRead: Boolean = false, maintainEvery: Int = 0,
      maintain: LakeTable => Seq[Long] = _.maintain()): StreamingQuery = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // binaryFile's schema is FIXED by the source, but the streaming API
    // still requires it stated explicitly (no inference on streams)
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val source = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(blobDir)
      .select(col("content"))
    drive(source, "graft-cdc-wire", checkpointDir, trigger, maintainEvery,
      () => maintain(lake)) { (batch, id) =>
      val blobs = batch.select(col("content").cast("string")).as[String]
      val (_, dirty) = graft.CdcPipeline.processBlobs(spark, blobs, lake,
        s"wire-$id", mergeOnRead = mergeOnRead)
      quarantineDir.foreach(d => dirty.write.format("graft").mode("append")
        .option("batchId", s"wire-dirty-$id").save(d))
    }
  }

  /** Continuously maintain an incremental materialized view
    * ([[graft.apply.IncrementalView]]) from a graft table's CDF stream —
    * the composition the changeFeed streaming mode exists for: source
    * table → `readStream.format("graft").option("changeFeed","true")` →
    * per-micro-batch O(churn) view refresh into `viewLake` through its
    * own [[CdcApplier]].
    *
    * No separate bootstrap step: the CDF stream's FIRST micro-batch is
    * the whole table as insert-images (unless `startingVersion` pins a
    * baseline), and the delta of an insert-only feed IS the full
    * aggregate — bootstrap and increments take the same code path.
    *
    * Exactly-once composes end-to-end from fences already in place:
    * the SOURCE replays deterministically (micro-batches are diffs of
    * pinned snapshot versions), and a replayed batch re-derives the same
    * view events under the same (batchId, seq), which the view lake's
    * offsets + batch fences reduce to a metadata no-op. The view lake is
    * a full graft table — snapshots, time travel, its own change feed —
    * so views CHAIN: a second maintainer can tail this view's CDF. */
  def startViewMaintenance(spark: SparkSession, sourceRoot: String,
      view: graft.apply.IncrementalView, viewLake: LakeTable,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      startingVersion: Option[Long] = None): StreamingQuery = {
    val viewApplier = new CdcApplier(viewLake, spark)
    val reader = spark.readStream.format("graft").option("changeFeed", "true")
    startingVersion.foreach(v => reader.option("startingVersion", v.toString))
    drive(reader.load(sourceRoot), "graft-view-maintenance", checkpointDir, trigger) {
      (batch, id) =>
        // micro-batch ids are the checkpoint's monotone clock — they
        // restart exactly where they left off, which is what the view
        // lake's seq fence needs
        view.maintain(viewApplier, batch, s"view-$id", seq = id + 1)
    }
  }

  /** Event-time windowed op-mix metrics with a WATERMARK (the streaming
    * face of the lineage roll-up, ≙ the reference's hourly Kibana view of
    * PROFILER counts): tumbling windows over the event time derived from
    * `seq` (epoch-ms commit sequence), counting ops per window. The
    * watermark bounds state: a window closes `lateness` after the max
    * event time seen, and events older than that are dropped —
    * acceptable for METRICS only; the apply path needs no watermark
    * because LWW by seq makes the TABLE order-insensitive (late data
    * lands correctly there no matter how late). */
  def windowedOpCounts(spark: SparkSession, inputDir: String,
      windowLen: String = "1 hour", lateness: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.readStream
      .schema(eventSchema)
      .parquet(inputDir)
      .withColumn("event_time", timestamp_millis(col("seq")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("op"))
      .count()
  }

  /** Push-style CDC change feed with CUSTOM STREAMING STATE
    * (`flatMapGroupsWithState`): per-(repo, path) state holds the
    * winning (seq, commit); a micro-batch emits a key's row only when
    * its winner CHANGES — stale/out-of-order re-deliveries are absorbed
    * silently. This is the push complement of the lake's poll-style
    * `readSince`: downstream consumers see exactly the net new winners.
    * State survives restarts via the checkpoint's state store, so the
    * feed never re-emits across resumes. LWW is order-insensitive, so no
    * watermark is needed for correctness.
    *
    * State TTL: with `stateTtl = Some(duration)` a key's state is
    * evicted after `duration` of processing-time inactivity
    * (`GroupStateTimeout.ProcessingTimeTimeout`; the deadline refreshes
    * on every arrival for the key, and eviction fires on the next batch
    * after it lapses). This bounds state to RECENTLY-ACTIVE keys instead
    * of all live keys — at 10^8 live keys with a long cold tail the
    * difference between a bounded and an unbounded state store.
    * Re-emission semantics after eviction: the feed's dedup memory for
    * that key is gone, so the next event — even one STALE relative to a
    * pre-eviction winner — is emitted as a fresh winner. Consumers that
    * need exact once-per-winner across TTL evictions must dedup on
    * (key, seq) downstream (or read the lake's `readSince`, which is
    * always exact: the TABLE, unlike the feed, keeps LWW state forever
    * by construction). `None` keeps the exact never-re-emit behavior.
    * With a TTL, `Trigger.AvailableNow` does not end by itself: a
    * processing-time timeout may fire at any moment, so every trigger
    * schedules another no-data batch, and `processAllAvailable` (which
    * waits for a trigger with nothing to do) never returns either. Stop
    * such a query once its data batches have committed (`recentProgress`
    * shows them). */
  def lwwChangeFeed(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int = 500,
      stateTtl: Option[String] = None): Dataset[Change] = {
    import spark.implicits._
    def newer(aSeq: Long, aCommit: String, bSeq: Long, bCommit: String): Boolean =
      aSeq > bSeq || (aSeq == bSeq && aCommit > bCommit)
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[Change]
      .groupByKey(c => (c.repo, c.path))
      .flatMapGroupsWithState[KeyState, Change](
        OutputMode.Update(), timeout) {
        case (_, events: Iterator[Change], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) { // TTL eviction: retire the idle key
            state.remove()
            Iterator.empty
          } else {
            val best = events.reduceLeft((a, b) =>
              if (newer(b.seq, b.commit, a.seq, a.commit)) b else a)
            val isNew = state.getOption.forall(s =>
              newer(best.seq, best.commit, s.seq, s.commit))
            if (isNew) state.update(KeyState(best.seq, best.commit))
            // refresh the inactivity deadline on every arrival
            stateTtl.foreach(state.setTimeoutDuration)
            if (isNew) Iterator.single(best) else Iterator.empty
          }
      }
  }
}
