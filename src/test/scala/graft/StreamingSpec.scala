package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.streaming.CdcStream

/** Streaming tail: the file-source drain applies the same final state as
  * the batch path, and an appended second wave is picked up incrementally
  * from the checkpoint. */
class StreamingSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Drive an AvailableNow query to completion AND fully stop it before
    * returning: a query left mid-planning when the shared session shuts
    * down at JVM exit logs an async `MicroBatchExecution` ERROR on the
    * listener bus (it cannot fail the suite, but it would page someone in
    * a production harness). */
  private def awaitAndStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination(120000)
    // stop ONLY if still active (await timed out): stopping a query
    // that terminated on its own is what ABORTS a final in-flight cycle
    // and logs TorrentBroadcast/DAGScheduler error noise
    if (q.isActive) { q.stop(); q.awaitTermination() }
  }

  override def afterAll(): Unit =
    // belt-and-braces: no stream of this suite may outlive it
    spark.streams.active.foreach { q =>
      scala.util.Try { q.stop(); q.awaitTermination() }
    }

  /** Write wire blob `id` into `dir`. The file source batches in
    * (modificationTime, path) order; a real binlog drop arrives in
    * sequence order with increasing mtimes — reproduce that (same-instant
    * writes would batch in hash order, and per-part out-of-order delivery
    * ACROSS micro-batches is outside the offsets fence's binlog
    * contract). */
  private def stageBlob(dir: String, id: Long, blob: String): Unit = {
    val p = java.nio.file.Paths.get(dir, f"blob-$id%05d.json")
    java.nio.file.Files.writeString(p, blob)
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1600000000000L + id * 1000))
  }

  private def canonical(n: Long, lo: Long, hi: Long) =
    ChangeLogGen.events(spark, n, seed = 11L)
      .filter(col("seq") >= lo && col("seq") < hi)
      .filter(lower(col("source")) === "app.change.log")
      .select("op", "part", "repo", "path", "commit", "lang", "content", "seq")

  test("streamed drain ≡ batch apply; appended files picked up incrementally") {
    val n = 3000L
    val inDir = TestSpark.tmpDir("stream-in")
    val ckDir = TestSpark.tmpDir("stream-ck")
    val lakeDir = TestSpark.tmpDir("stream-lake")
    val lake = new LakeTable(lakeDir, spark)

    // wave 1
    canonical(n, 0, n / 2).write.mode("append").parquet(inDir)
    val q1 = CdcStream.start(spark, inDir, lake, ckDir)
    awaitAndStop(q1)
    val afterWave1 = lake.read().count()
    assert(afterWave1 > 0)

    // wave 2 appended; new stream instance resumes from checkpoint
    canonical(n, n / 2, n).write.mode("append").parquet(inDir)
    val q2 = CdcStream.start(spark, inDir, lake, ckDir)
    awaitAndStop(q2)

    // oracle: sequential LWW over the full log
    val oracle = canonical(n, 0, n)
      .groupBy($"repo", $"path")
      .agg(max_by(struct($"op", $"commit", $"content", $"seq"), struct($"seq", $"commit")).as("r"))
      .filter($"r.op" =!= "DELETE")
      .select($"repo", $"path", $"r.commit".as("commit"), sha2($"r.content", 256).as("sha"))
      .collect().map(_.toSeq).toSet
    val got = lake.read()
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("sha"))
      .collect().map(_.toSeq).toSet
    assert(got == oracle)
  }

  test("streaming drain in merge-on-read mode ≡ batch apply") {
    val n = 2000L
    val inDir = TestSpark.tmpDir("smor-in")
    val lakeDir = TestSpark.tmpDir("smor-lake")
    val lake = new LakeTable(lakeDir, spark)
    canonical(n, 0, n).write.mode("append").parquet(inDir)
    val q = CdcStream.start(spark, inDir, lake, TestSpark.tmpDir("smor-ck"),
      mergeOnRead = true)
    awaitAndStop(q)
    assert(lake.currentSnapshot.exists(_.deleteFiles.nonEmpty) ||
      lake.currentSnapshot.exists(_.dataFiles.nonEmpty))
    val oracle = canonical(n, 0, n)
      .groupBy($"repo", $"path")
      .agg(max_by(struct($"op", $"commit", $"content", $"seq"), struct($"seq", $"commit")).as("r"))
      .filter($"r.op" =!= "DELETE")
      .select($"repo", $"path", $"r.commit".as("commit"), sha2($"r.content", 256).as("sha"))
      .collect().map(_.toSeq).toSet
    val got = lake.read()
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("sha"))
      .collect().map(_.toSeq).toSet
    assert(got == oracle)
  }

  test("wire-format streaming tail ≡ batch processBlobs; corrupt/dirty rows quarantined") {
    val n = 2000L
    val blobRows = ChangeLogGen.blobs(spark, n, 7L)
      .select(col("blob_id"), col("blob")).collect()
    val inDir = TestSpark.tmpDir("wire-in")
    blobRows.foreach(r =>
      stageBlob(inDir, r.getAs[Number]("blob_id").longValue, r.getAs[String]("blob")))
    val lakeS = new LakeTable(TestSpark.tmpDir("wire-lake"), spark)
    val qDir = TestSpark.tmpDir("wire-quar") + "/dirty"
    // 7 files per trigger → several micro-batches through the FULL wire
    // pipeline (split → parse → validate → merge → commit)
    val q = CdcStream.startWire(spark, inDir, lakeS, TestSpark.tmpDir("wire-ck"),
      quarantineDir = Some(qDir), maxFilesPerTrigger = 7)
    awaitAndStop(q)
    // batch reference over the identical blobs
    val lakeB = new LakeTable(TestSpark.tmpDir("wireb-lake"), spark)
    val (_, dirtyB) = CdcPipeline.processBlobs(spark,
      blobRows.map(_.getAs[String]("blob")).toSeq.toDS(), lakeB, "all")
    def state(l: LakeTable) = l.read()
      .select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    assert(state(lakeS) == state(lakeB) && state(lakeS).nonEmpty)
    // the validation counters are observed in the re-rooted batch's
    // session: summed over the streamed commits they equal the batch
    // reference's single commit
    def counters(l: LakeTable) = l.versions.flatMap(v => l.snapshot(v).lineage)
      .filter { case (k, _) => k == "parsed" || k == "quarantined" || k.startsWith("rule.") }
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(lakeS.versions.size > 1)
    assert(counters(lakeS) == counters(lakeB) && counters(lakeB)("parsed") > 0 &&
      counters(lakeB)("quarantined") > 0 && counters(lakeB).keys.exists(_.startsWith("rule.")))
    // every dirty row (wrong source / corrupt slices) landed in the
    // quarantine TABLE (the graft sink, not bare parquet appends)
    val dirtyN = dirtyB.count()
    assert(dirtyN > 0)
    def dirtyCount = spark.read.format("graft").load(qDir).count()
    assert(dirtyCount == dirtyN)
    // FULL REPLAY from a fresh checkpoint: the file source re-delivers
    // identical micro-batches with identical ids — the table fences make
    // it a no-op AND the dirty side must not double (its saves are
    // fenced on the micro-batch id, the round-4 gap)
    val tableBefore = state(lakeS)
    val q2 = CdcStream.startWire(spark, inDir, lakeS, TestSpark.tmpDir("wire-ck2"),
      quarantineDir = Some(qDir), maxFilesPerTrigger = 7)
    awaitAndStop(q2)
    assert(state(lakeS) == tableBefore, "replayed drain must not change the table")
    assert(dirtyCount == dirtyN, "replayed drain must not double the quarantine")
  }

  test("streaming runs reuse the caller session's generated code") {
    // three single-file AvailableNow runs into one merge-on-read lake,
    // each a fresh query on one checkpoint: every micro-batch runs in
    // the session that started its stream, so the third run finds the
    // apply path already compiled (in a per-run cloned session, the
    // executors compile it afresh every run)
    val blobs = ChangeLogGen.blobs(spark, 600L, 5L, blobSize = 200)
      .select(col("blob_id"), col("blob")).as[(Long, String)].collect().sortBy(_._1)
    assert(blobs.length == 3)
    val inDir = TestSpark.tmpDir("cg-in")
    val ckDir = TestSpark.tmpDir("cg-ck")
    val lake = new LakeTable(TestSpark.tmpDir("cg-lake"), spark)
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val perRun = blobs.map { case (id, blob) =>
      stageBlob(inDir, id, blob)
      val before = compiles
      awaitAndStop(CdcStream.startWire(spark, inDir, lake, ckDir,
        maxFilesPerTrigger = 1, mergeOnRead = true))
      compiles - before
    }
    info(s"Janino compiles per run: ${perRun.mkString(", ")}")
    assert(lake.versions.size == 3)
    assert(perRun(2) <= 20L, s"Janino compiles per run: ${perRun.mkString(", ")}")
  }

  test("maintenance policy bounds delete files during a long merge-on-read drain") {
    import scala.jdk.CollectionConverters._
    val n = 2700L
    val waves = 9
    val inDir = TestSpark.tmpDir("maint-in")
    val lake = new LakeTable(TestSpark.tmpDir("maint-lake"), spark)
    // one file per wave with increasing mtimes: the file source batches
    // in (mtime, path) order, preserving the binlog delivery contract
    // across the 9 single-file micro-batches
    var known = Set.empty[String]
    val per = n / waves
    (0 until waves).foreach { b =>
      canonical(n, b * per, if (b == waves - 1) n else (b + 1) * per)
        .coalesce(1).write.mode("append").parquet(inDir)
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(inDir))
      val fresh = try ls.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && !known.contains(p.toString))
        .toSeq finally ls.close()
      fresh.foreach(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 1000L)))
      known ++= fresh.map(_.toString)
    }
    // long MoR drain with NO explicit maintenance call — the policy hook
    // must keep the delete-file count bounded on its own
    val q = CdcStream.start(spark, inDir, lake, TestSpark.tmpDir("maint-ck"),
      maxFilesPerTrigger = 1, mergeOnRead = true, maintainEvery = 2,
      maintain = _.maintain(maxDeleteFiles = 2, maxDeleteRatio = 0.9,
        smallFileBytes = 0))
    awaitAndStop(q)
    val delFiles = lake.currentSnapshot.get.deleteFiles.size
    assert(delFiles <= 3,
      s"policy must bound delete files (unmaintained drain leaves ~${waves - 1}), got $delFiles")
    assert(lake.versions.map(v => lake.snapshot(v).batchId)
      .exists(b => b.startsWith("consolidate-deletes-") || b.startsWith("compact-")),
      "the policy must actually have committed maintenance")
    // and maintenance is pure: final state still equals the LWW oracle
    val oracle = canonical(n, 0, n)
      .groupBy($"repo", $"path")
      .agg(max_by(struct($"op", $"commit", $"content", $"seq"), struct($"seq", $"commit")).as("r"))
      .filter($"r.op" =!= "DELETE")
      .select($"repo", $"path", $"r.commit".as("commit"), sha2($"r.content", 256).as("sha"))
      .collect().map(_.toSeq).toSet
    val got = lake.read()
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("sha"))
      .collect().map(_.toSeq).toSet
    assert(got == oracle)
  }

  test("stateful LWW change feed emits only net-new winners across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = TestSpark.tmpDir("feed-in")
    val ckDir = TestSpark.tmpDir("feed-ck")
    def drain(tableSuffix: String): Seq[(String, String, Long)] = {
      // foreachBatch (checkpoint-recoverable, unlike the memory sink)
      // collecting this run's emissions only
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
      val q = CdcStream.lwwChangeFeed(spark, inDir).writeStream
        .queryName(s"feed_$tableSuffix")
        .outputMode("update")
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.Change], _: Long) =>
            b.collect().foreach(c => buf.add((c.repo, c.path, c.seq))): Unit
        }
        .start()
      awaitAndStop(q)
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    def rows(data: Seq[(String, String, Long)]) = data
      .map { case (repo, path, seq) =>
        ("UPDATE", "0", repo, path, s"c$seq", "scala", s"content-$seq", seq)
      }
      .toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")

    // wave 1: two keys
    rows(Seq(("r1", "a", 10L), ("r1", "a", 12L), ("r2", "b", 5L)))
      .write.mode("append").parquet(inDir)
    val w1 = drain("w1")
    assert(w1.toSet == Set(("r1", "a", 12L), ("r2", "b", 5L)))

    // wave 2: one stale event (seq 11 < winner 12), one fresh winner
    rows(Seq(("r1", "a", 11L), ("r2", "b", 7L)))
      .write.mode("append").parquet(inDir)
    val w2 = drain("w2")
    // the memory table from a NEW query run contains only this run's
    // emissions: the stale r1 event must be absorbed by restored state
    assert(w2.toSet == Set(("r2", "b", 7L)))
  }

  test("change-feed state TTL: idle keys evicted, post-eviction stale event re-emits") {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = TestSpark.tmpDir("ttl-in")
    val ckDir = TestSpark.tmpDir("ttl-ck")
    def drain(suffix: String): Seq[(String, String, Long)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
      val q = CdcStream.lwwChangeFeed(spark, inDir, stateTtl = Some("1 milliseconds"))
        .writeStream
        .queryName(s"feedttl_$suffix")
        .outputMode("update")
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.Change], _: Long) =>
            b.collect().foreach(c => buf.add((c.repo, c.path, c.seq))): Unit
        }
        .start()
      // a processing-time timeout makes AvailableNow run no-data batches
      // without end (see `lwwChangeFeed`), and `processAllAvailable`
      // waits for a trigger that finds nothing to do, so it never returns
      // either: stop the query once the wave's one data batch (every file
      // of the wave fits one trigger) has reached the sink
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q.isActive && !q.recentProgress.exists(_.numInputRows > 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      q.stop()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    def rows(data: Seq[(String, String, Long)]) = data
      .map { case (repo, path, seq) =>
        ("UPDATE", "0", repo, path, s"c$seq", "scala", s"content-$seq", seq)
      }
      .toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")

    // wave 1: key A wins at seq 12
    rows(Seq(("rA", "x", 12L))).write.mode("append").parquet(inDir)
    assert(drain("w1").toSet == Set(("rA", "x", 12L)))
    Thread.sleep(50) // let the 1 ms inactivity TTL lapse
    // wave 2: unrelated key — its batch also fires A's lapsed timeout
    rows(Seq(("rB", "y", 5L))).write.mode("append").parquet(inDir)
    assert(drain("w2").toSet == Set(("rB", "y", 5L)))
    Thread.sleep(50)
    // wave 3: a STALE event for A (seq 3 < 12). With A's state evicted the
    // feed re-emits it — the documented TTL trade-off (without TTL, the
    // restored state absorbs it: see the net-new-winners test above)
    rows(Seq(("rA", "x", 3L))).write.mode("append").parquet(inDir)
    assert(drain("w3").toSet == Set(("rA", "x", 3L)))
  }

  test("windowed op counts: watermark closes old windows and drops too-late events") {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = TestSpark.tmpDir("win-in")
    val ckDir = TestSpark.tmpDir("win-ck")
    val H = 3600L * 1000 // one hour of event time in ms (seq is epoch-ms)
    def rows(seqs: Seq[Long]) = seqs.zipWithIndex.map { case (s, i) =>
      ("UPDATE", "0", s"r$i", s"p$i", s"c$s-$i", "scala", "x", s)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    def drain(): Seq[(java.sql.Timestamp, String, Long)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(java.sql.Timestamp, String, Long)]()
      val q = CdcStream.windowedOpCounts(spark, inDir).writeStream
        .outputMode("append") // append: a window emits once, when closed
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => buf.add((
            r.getStruct(0).getTimestamp(0), r.getString(1), r.getLong(2)))): Unit
        }
        .start()
      awaitAndStop(q)
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    // wave 1: three hour-0 events + one hour-3 event → watermark 3h-2h=1h
    rows(Seq(1000L, 2000L, 3000L, 3 * H)).write.mode("append").parquet(inDir)
    val w1 = drain()
    // wave 2: a TOO-LATE hour-0 event (behind the 1h watermark — must be
    // dropped) plus an hour-5 event
    rows(Seq(4000L, 5 * H)).write.mode("append").parquet(inDir)
    val w2 = drain()
    val hour0 = (w1 ++ w2).filter(_._1.getTime == 0L)
    assert(hour0.nonEmpty, s"hour-0 window never closed: w1=$w1 w2=$w2")
    // count = the 3 on-time events; the late 4th was dropped by the
    // watermark, and the window emitted exactly once (append semantics)
    assert(hour0 == Seq((new java.sql.Timestamp(0L), "UPDATE", 3L)),
      s"got $hour0")
  }

  test("CDF-driven view maintenance: bootstrap, incremental refresh, restart ≡ recompute") {
    import graft.apply.{CdcApplier, IncrementalView}
    val n = 3000L
    val srcDir = TestSpark.tmpDir("vm-src")
    val viewDir = TestSpark.tmpDir("vm-view")
    val ckDir = TestSpark.tmpDir("vm-ck")
    val srcLake = new LakeTable(srcDir, spark)
    val applier = new CdcApplier(srcLake, spark, mergeOnRead = true)
    val view = new IncrementalView(Seq("repo", "lang"),
      Seq("total_len" -> length(col("content")).cast("long")))
    val viewLake = new LakeTable(viewDir, spark)
    def viewSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

    // wave 1 → first drain is the insert backfill: bootstrap and
    // increments share one code path
    applier.applyBatch(canonical(n, 0, n / 2), "src-0")
    awaitAndStop(CdcStream.startViewMaintenance(
      spark, srcDir, view, viewLake, ckDir))
    assert(viewSet(view.read(viewLake)) == viewSet(view.full(srcLake.read())))
    assert(viewSet(view.read(viewLake)).nonEmpty)

    // wave 2 (updates + deletes over the same keys) → a NEW stream
    // instance resumes from the checkpoint and refreshes incrementally
    applier.applyBatch(canonical(n, n / 2, n), "src-1")
    awaitAndStop(CdcStream.startViewMaintenance(
      spark, srcDir, view, viewLake, ckDir))
    assert(viewSet(view.read(viewLake)) == viewSet(view.full(srcLake.read())))

    // exactly one bootstrap + one incremental batch reached the view
    // lake: the restart neither re-ran the backfill nor skipped a batch
    val batches = viewLake.lineageTable().select(col("batch_id"))
      .collect().map(_.getString(0)).toSet
    assert(batches == Set("view-0", "view-1"), s"got $batches")
  }
}
