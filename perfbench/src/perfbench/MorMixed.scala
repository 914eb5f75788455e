package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.apply.CdcApplier
import graft.codec.ConcatJson
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.streaming.CdcStream
import graft.validate.Validate

/** Merge-on-read micro-batches through the streaming wire path, with reads
  * beside the writes, all on one thread.
  *
  * Each step stages one file — a concatenated-JSON blob of one ~2k-event
  * seq window, with 1% corrupt docs, v1/v2 envelope variants and 2%
  * foreign-source rows — and runs one `AvailableNow` trigger of
  * `CdcStream.startWire(mergeOnRead = true)` over it. The 2nd delivery and
  * every 7th after it re-deliver the file before, which the offsets fence
  * must drop. After
  * every trigger the consumer makes one ~10-key `lookupKeys` and one
  * `readSince` poll from its watermark; every 3rd delivery also runs a
  * filtered `format("graft")` scan, `maintain()` and `expireSnapshots`.
  * The table is seeded once to a pinned file count. */
final class MorMixed(r: Run) extends Workload(r) {
  private val seedEvents = 60000L
  private val nRepos = 2000
  private val pathsPerRepo = 100
  private val seedFiles = 16
  private val perFile = 2000
  private val nFiles = 30
  private val warmSteps = 2
  private val redeliverEvery = 7
  private val lookupKeys = 10
  private val maintainEvery = 3
  // maintain() consolidates delete files once there are this many, so
  // that each maintenance in a run does work; at the default of 16 none
  // would within a run.
  private val maintainDeleteFiles = 2
  private val keepSnapshots = 8
  private val ownSource = "app.change.log"

  private var root: Path = _
  private var lake: LakeTable = _
  private var events: DataFrame = _
  private var staged: IndexedSeq[Path] = IndexedSeq.empty
  private var keyPool: IndexedSeq[(String, String)] = IndexedSeq.empty
  private var fileStats: Map[Int, (Long, Long, Long)] = Map.empty // file -> (events, clean, bytes)
  private var delivery = 0
  private var fresh = 0
  private var watermark = 0L
  private var bytes: LakeBytes = _
  private val probed = mutable.LinkedHashSet.empty[(String, String)]
  private val timed = mutable.ArrayBuffer.empty[StepInfo]

  private final case class StepInfo(file: Int, redelivered: Boolean, vBefore: Long,
      vAfter: Long, traced: Boolean, runId: java.util.UUID, commitMs: Double,
      dataBytes: Long, metaBytes: Long, lineage: Map[String, Long],
      lookupFrac: Double, pollFrac: Double, maintained: Boolean, maintainCommits: Int,
      maintainBytes: Long, decodeMs: Double, prefixMs: Double)

  def prepare(dir: Path): Unit = {
    root = dir
    val total = seedEvents + nFiles.toLong * perFile
    events = ChangeLogGen.events(spark, total, seed, nRepos, pathsPerRepo)
      .select((Common.canonicalCols :+ "source").map(col): _*)
    // one blob per staged file: blob b holds the events of seq window b
    val blobs = ChangeLogGen.blobs(spark, total, seed, nRepos, pathsPerRepo, blobSize = perFile)
      .filter(col("blob_id") >= seedEvents / perFile).collect()
    Files.createDirectories(dir.resolve("staged"))
    staged = blobs.map { row =>
      val f = (row.getLong(0) - seedEvents / perFile).toInt
      val p = dir.resolve("staged").resolve(f"f$f%04d.json")
      Files.write(p, row.getString(1).getBytes(StandardCharsets.UTF_8))
      f -> p
    }.sortBy(_._1).map(_._2).toIndexedSeq
    lake = new LakeTable(dir.resolve("lake").toString, spark)
    val seedDf = events.filter(col("seq") < seedEvents && col("source") === ownSource)
    new CdcApplier(lake, spark, clusterPartitions = seedFiles, mergeOnRead = true)
      .applyBatch(seedDf.drop("source"), "seed")
    keyPool = seedDf.select(col("repo"), col("path")).distinct()
      .orderBy(xxhash64(lit(seed), col("repo"), col("path"))).limit(4000)
      .collect().map(row => (row.getString(0), row.getString(1))).toIndexedSeq
    fileStats = events.filter(col("seq") >= seedEvents)
      .groupBy(((col("seq") - seedEvents) / perFile).cast("int").as("f"))
      .agg(count(lit(1)), sum(when(col("source") === ownSource, 1L).otherwise(0L)),
        sum(Common.eventBytes))
      .collect().map(row => row.getInt(0) -> (row.getLong(1), row.getLong(2), row.getLong(3)))
      .toMap
    Files.createDirectories(dir.resolve("input"))
    delivery = 0
    fresh = 0
    watermark = seedEvents - 1
    probed.clear()
    bytes = new LakeBytes(lake.root)
  }

  def hasNext: Boolean = fresh < nFiles

  /** Deliveries: fresh files in order; the 2nd delivery and every 7th
    * after it is a copy of the file before. */
  private def nextFile(): (Int, Boolean) =
    if (delivery % redeliverEvery == 1) (fresh - 1, true)
    else { fresh += 1; (fresh - 1, false) }

  private def blobOf(file: Int): Dataset[String] = {
    val session = spark
    import session.implicits._
    spark.read.option("wholetext", "true").text(staged(file).toString).as[String]
  }

  /** The pipeline's decode (→ resolve → validate) prefix on one file, for
    * the codec and validate self-times. */
  private def prefix(file: Int, withRoute: Boolean): Unit = {
    val raw = ConcatJson.decodeTyped(blobOf(file)).toDF()
      .withColumn("_corrupt", when(col("corrupt"), col("raw")))
    val out =
      if (!withRoute) raw
      else Validate.routeObserved(raw
        .withColumn("commit", coalesce(col("commit"), when(col("commit_lang").contains("#"),
          substring_index(col("commit_lang"), "#", 1))))
        .withColumn("lang", coalesce(col("lang"), when(col("commit_lang").contains("#"),
          element_at(split(col("commit_lang"), "#"), -1)))),
        name = s"perfbench-${java.util.UUID.randomUUID()}")._1
    out.write.format("noop").mode("overwrite").save()
  }

  private def one(traced: Boolean): (Double, StepInfo) = {
    val (file, redelivered) = nextFile()
    val target = root.resolve("input").resolve(f"d$delivery%05d.json")
    Files.copy(staged(file), target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    delivery += 1
    val vBefore = lake.currentVersion.get
    val (q, commitMs) = r.timed(if (redelivered) "redeliver" else "commit", "CdcStream.startWire") {
      val q = CdcStream.startWire(spark, root.resolve("input").toString, lake,
        root.resolve("checkpoint").toString, maxFilesPerTrigger = 1,
        trigger = Trigger.AvailableNow(), mergeOnRead = true)
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    val vAfter = lake.currentVersion.get
    val lineage = if (vAfter > vBefore) lake.snapshot(vAfter).lineage else Map.empty[String, Long]
    val (db, mb) = bytes.delta()

    val keys = IndexedSeq.fill(lookupKeys)(keyPool(r.rng.nextInt(keyPool.size)))
    probed ++= keys
    val ((_, lScanned, lTotal), lookupMs) = r.timed("lookup", "LakeTable.lookupKeys") {
      val (df, s, t) = lake.lookupKeys(keys)
      (df.collect(), s, t)
    }
    // a poll after a re-delivery finds nothing new; it is kept apart
    val pollKind = if (redelivered) "poll_idle" else "poll"
    val ((polled, pScanned, pTotal), pollMs) = r.timed(pollKind, "LakeTable.readSince") {
      val (df, s, t) = lake.readSince(watermark)
      (df.collect(), s, t)
    }
    if (polled.nonEmpty) watermark = math.max(watermark, polled.map(_.getAs[Long]("seq")).max)

    var ms = commitMs + lookupMs + pollMs
    val maintained = delivery % maintainEvery == 0
    var mCommits = 0
    var mBytes = 0L
    if (maintained) {
      val lang = Seq("scala", "python", "java", "go", "md")(r.rng.nextInt(5))
      val lo = r.rng.nextInt(nRepos - 100)
      val (_, scanMs) = r.timed("scan", "format(graft).scan") {
        val df = spark.read.format("graft").load(lake.root)
          .filter(col("lang") === lang && col("repo") >= f"repo-$lo%04d" &&
            col("repo") < f"repo-${lo + 100}%04d")
        r.tracer.span("format(graft).plan")(df.queryExecution.executedPlan)
        df.collect()
      }
      val (versions, maintainMs) = r.timed("maintain", "LakeTable.maintain") {
        lake.maintain(maxDeleteFiles = maintainDeleteFiles)
      }
      mCommits = versions.size
      mBytes = bytes.delta()._1
      val (_, expireMs) = r.timed("expire", "LakeTable.expireSnapshots") {
        lake.expireSnapshots(keepLast = keepSnapshots)
      }
      bytes.delta()
      ms += scanMs + maintainMs + expireMs
    }
    val (decodeMs, prefixMs) =
      if (!traced) (0.0, 0.0)
      else (r.timed("decode", "ConcatJson.decodeTyped")(prefix(file, false))._2,
        r.timed("route", "Validate.routeObserved")(prefix(file, true))._2)
    (ms, StepInfo(file, redelivered, vBefore, vAfter, traced, q.runId, commitMs, db, mb, lineage,
      lScanned.toDouble / math.max(1, lTotal), pScanned.toDouble / math.max(1, pTotal),
      maintained, mCommits, mBytes, decodeMs, prefixMs))
  }

  def warm(): Unit = (0 until warmSteps).foreach(_ => checkLineage(one(traced = false)._2))

  def step(i: Int): Double = {
    val (ms, s) = one(r.tracer.on)
    timed += s
    ms
  }

  def offeredRows: Long = timed.map(s => fileStats(s.file)._1).sum

  /** One fresh commit, one lookup and one poll, and a 1/`maintainEvery`
    * share of a scan, a `maintain()` and an `expireSnapshots`. A
    * re-delivery (first in the 7th timed step) and its idle poll are
    * reported apart. */
  def stepKinds: Seq[(String, Double)] =
    Seq("commit", "lookup", "poll").map(_ -> 1.0) ++
      Seq("scan", "maintain", "expire").map(_ -> 1.0 / maintainEvery)
  def minSteps: Int = 4
  def rowsPerStep: Double = perFile

  /** Lineage conserves events: a fresh file commits exactly one version
    * that counts every decoded doc as parsed and whose upserts + deletes
    * equal the file's own-source events; a re-delivery commits nothing. */
  private def checkLineage(s: StepInfo): Unit =
    if (s.redelivered)
      r.check(s"re-delivered file ${s.file} committed a version", s.vAfter == s.vBefore)
    else {
      val clean = fileStats(s.file)._2
      val l = s.lineage
      r.check(s"lineage of file ${s.file}", s.vAfter == s.vBefore + 1 &&
        l.getOrElse("upserts", 0L) + l.getOrElse("deletes", 0L) == clean &&
        l.getOrElse("parsed", 0L) - l.getOrElse("quarantined", 0L) == clean)
    }

  def verify(): Unit = {
    timed.foreach(checkLineage)
    val applied = events.filter(col("seq") < seedEvents + fresh.toLong * perFile &&
      col("source") === ownSource)
    val expected = Common.lww(applied)
    r.check("final table = LWW oracle",
      Common.sameRows(Common.canon(lake.read()), Common.canon(expected)))
    val session = spark
    import session.implicits._
    val (got, _, _) = lake.lookupKeys(probed.toSeq)
    r.check("probed lookup keys = final state", Common.sameRows(Common.canon(got),
      Common.canon(expected.join(probed.toSeq.toDF("repo", "path"), Seq("repo", "path"),
        "left_semi"))))
    val (since, _, _) = lake.readSince(seedEvents - 1)
    r.check("readSince(seed watermark) = keys whose winner is past the seed",
      Common.sameRows(Common.canon(since),
        Common.canon(expected.filter(col("seq") >= seedEvents))))
  }

  def finish(): Unit = {
    val steps = timed.toSeq
    Seq("commit", "lookup", "poll").foreach { k =>
      val xs = r.sampleOf(k)
      r.report += f"metric ${k}_p50_ms ${Stats.median(xs)}%.3f ms n=${xs.size}"
      r.report += f"metric ${k}_p90_ms ${Stats.quantile(xs, 0.9)}%.3f ms n=${xs.size}"
    }
    val scans = r.sampleOf("scan")
    r.report += f"metric scan_p50_ms ${Stats.median(scans)}%.3f ms n=${scans.size}"
    r.report += f"metric apply_events_per_s ${perFile * 1000 / Stats.median(r.sampleOf("commit"))}%.1f " +
      f"1/s n=${r.sampleOf("commit").size}"
    val offBytes = steps.map(s => fileStats(s.file)._3).sum
    val wa = steps.map(s => s.dataBytes + s.metaBytes).sum.toDouble / math.max(1L, offBytes)
    r.report += f"metric write_amplification $wa%.3f ratio n=${steps.size}"
    val snap = lake.currentSnapshot.get
    val liveRows = lake.read().count()
    val stored = snap.files.map(_.bytes).sum.toDouble / math.max(1L, liveRows)
    r.report += f"metric stored_bytes_per_live_row $stored%.2f B n=1"
    r.layer("lake.write_amplification") = wa
    r.layer("lake.stored_bytes_per_live_row") = stored
    r.layer("lake.live_files") = snap.dataFiles.size
    r.layer("lake.delete_files") = snap.deleteFiles.size
    r.layer("lake.manifest_chunks") = snap.chunkRefs.size
    val applied = steps.map(s => s.lineage.getOrElse("upserts", 0L) + s.lineage.getOrElse("deletes", 0L)).sum
    val clean = steps.map(s => fileStats(s.file)._2).sum
    r.layer("apply.fenced_frac") = 1.0 - applied.toDouble / math.max(1L, clean)
    val maint = steps.filter(_.maintained)
    if (maint.nonEmpty) {
      r.layer("lake.maintain_commits") = Stats.mean(maint.map(_.maintainCommits.toDouble))
      r.layer("lake.maintain_bytes_rewritten") = Stats.mean(maint.map(_.maintainBytes.toDouble))
    }

    val traced = steps.filter(_.traced)
    if (traced.nonEmpty) {
      val committed = traced.filter(s => s.vAfter > s.vBefore)
      val ev = traced.map(s => fileStats(s.file)._1).sum
      val perM = 1e6 / ev
      r.layer("lake.data_bytes_written") = Stats.mean(committed.map(_.dataBytes.toDouble))
      r.layer("lake.meta_bytes_written") = Stats.mean(committed.map(_.metaBytes.toDouble))
      r.layer("lake.lookup_files_scanned_frac") = Stats.mean(traced.map(_.lookupFrac))
      r.layer("lake.poll_files_scanned_frac") = Stats.mean(traced.map(_.pollFrac))
      val runIds = traced.map(_.runId).toSet
      val prog = r.tracer.progress.filter(p => runIds(p.runId))
      r.layer("streaming.trigger_ms") = Stats.median(prog.map(_.triggerMs.toDouble))
      r.layer("streaming.overhead_ms") =
        Stats.median(prog.map(p => (p.triggerMs - p.addBatchMs).toDouble))
      ApplyLayer.fill(r, r.tracer.named("CdcStream.startWire"), ev)
      r.layer("apply.wire_self_ms_per_mevent") = traced.map(s => s.commitMs - s.prefixMs).sum * perM
      r.layer("codec.decode_ms_per_mevent") = traced.map(_.decodeMs).sum * perM
      r.layer("validate.route_ms_per_mevent") = traced.map(s => s.prefixMs - s.decodeMs).sum * perM
      val parsed = committed.map(_.lineage.getOrElse("parsed", 0L)).sum
      r.layer("codec.docs_out") = parsed.toDouble / math.max(1, committed.size)
      r.layer("codec.corrupt_frac") = committed.map(_.lineage.getOrElse("rule.corrupt_json", 0L))
        .sum.toDouble / math.max(1L, parsed)
      r.layer("validate.quarantined_frac") = committed.map(_.lineage.getOrElse("quarantined", 0L))
        .sum.toDouble / math.max(1L, parsed)
      def spanMs(n: String) = Stats.median(r.tracer.named(n).map(_.ms))
      def spanJobs(n: String) =
        Stats.mean(r.tracer.named(n).map(s => r.tracer.workFor(s).jobs.toDouble))
      r.layer("lake.lookup_ms") = spanMs("LakeTable.lookupKeys")
      r.layer("lake.lookup_jobs") = spanJobs("LakeTable.lookupKeys")
      r.layer("lake.poll_ms") = spanMs("LakeTable.readSince")
      r.layer("lake.maintain_ms") = spanMs("LakeTable.maintain")
      r.layer("lake.expire_ms") = spanMs("LakeTable.expireSnapshots")
      r.layer("sources.plan_ms") = spanMs("format(graft).plan")
      r.layer("sources.scan_ms") = spanMs("format(graft).scan")
      r.layer("sources.scan_jobs") = spanJobs("format(graft).scan")
      // rewrite amplification from consecutive snapshots (near zero under
      // merge-on-read until maintenance compacts)
      val diffs = committed.filter(s => lake.versions.contains(s.vBefore)).map { s =>
        val before = lake.snapshot(s.vBefore).files
        val after = lake.snapshot(s.vAfter).files
        val beforePaths = before.map(_.path).toSet
        val afterPaths = after.map(_.path).toSet
        (before.count(f => !afterPaths(f.path)).toDouble,
          after.filter(f => !beforePaths(f.path) && f.kind == "data").map(_.rows).sum.toDouble /
            math.max(1L, fileStats(s.file)._1))
      }
      r.layer("apply.files_touched") = Stats.mean(diffs.map(_._1))
      r.layer("apply.rows_rewritten_per_event") = Stats.mean(diffs.map(_._2))
    }
  }
}
