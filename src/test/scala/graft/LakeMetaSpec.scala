package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.apply.CdcApplier
import graft.gen.ChangeLogGen

/** Lake metadata-layer guarantees: the commit fence refuses to clobber an
  * existing snapshot, the applied-batch fence map stays bounded, the
  * lineage side-table mirrors commit counters, and distributed file
  * pruning agrees with the driver-side reference implementation. */
class LakeMetaSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def schema = graft.core.Model.lakeSchemaV1

  test("publishing the same manifest version twice fails, first commit survives") {
    val lake = new LakeTable(TestSpark.tmpDir("lakefence"), spark)
    lake.commit("b0", Map("p0" -> 1L), schema, Nil, Nil, lake.currentSnapshot)
    val v0 = java.nio.file.Paths.get(lake.root, "meta", "v0.json")
    val original = java.nio.file.Files.readString(v0)
    // a second writer publishing version 0 must fail EEXIST-atomically
    // (rename(2) would silently replace it) and leave the winner intact;
    // at the raw manifest layer this surfaces as the retryable race
    // signal that commit()'s optimistic loop consumes
    intercept[LakeTable.CommitRace] {
      lake.writeManifest(0L, schema, Nil, Map("p0" -> 99L),
        Map("intruder" -> "x"), Map.empty, "intruder")
    }
    assert(java.nio.file.Files.readString(v0) == original)
    assert(lake.committedOffsets == Map("p0" -> 1L))
  }

  test("manifests carry the format marker; a missing or different one fails by name") {
    val root = TestSpark.tmpDir("lakeformat")
    val writer = new LakeTable(root, spark)
    writer.commit("f0", Map("p0" -> 1L), schema, Nil, Nil, writer.currentSnapshot)
    val v0 = java.nio.file.Paths.get(root, "meta", "v0.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def manifest = mapper.readValue(java.nio.file.Files.readString(v0),
      classOf[java.util.LinkedHashMap[String, Object]])
    assert(manifest.get("formatVersion") == LakeTable.FormatVersion)
    def rewrite(edit: java.util.Map[String, Object] => Unit): Unit = {
      val m = manifest
      edit(m)
      java.nio.file.Files.writeString(v0, mapper.writeValueAsString(m))
      ()
    }
    // a fresh instance each time: nothing read before the edit is reused
    rewrite(_.remove("formatVersion"))
    val missing = intercept[LakeTable.ManifestFormatException](
      new LakeTable(root, spark).currentSnapshot)
    assert(missing.file == v0 && missing.found == null)
    assert(missing.getMessage.contains(v0.toString))
    rewrite(_.put("formatVersion", Integer.valueOf(LakeTable.FormatVersion + 1)))
    val other = intercept[LakeTable.ManifestFormatException](
      new LakeTable(root, spark).snapshot(0L))
    assert(other.found == LakeTable.FormatVersion + 1)
    assert(other.getMessage.contains(s"formatVersion ${LakeTable.FormatVersion + 1}"))
  }

  test("applied-batch fence map is bounded to the sliding window across 100 commits") {
    val lake = new LakeTable(TestSpark.tmpDir("lakewindow"), spark, appliedWindow = 8)
    (0 until 100).foreach { i =>
      lake.commit(s"b$i", Map("p0" -> i.toLong), schema, Nil, Nil, lake.currentSnapshot)
    }
    val snap = lake.currentSnapshot.get
    assert(snap.version == 99L)
    assert(snap.applied.size == 8)
    // FIFO: exactly the most recent 8 batch ids, in commit order
    assert(snap.applied.keys.toSeq == (92 until 100).map(i => s"b$i"))
    // offsets watermark still cumulative (the primary replay fence)
    assert(lake.committedOffsets == Map("p0" -> 99L))
    // replaying a batch still inside the window is a metadata no-op
    assert(lake.commit("b99", Map("p0" -> 99L), schema, Nil, Nil, lake.currentSnapshot) == 99L)
    assert(lake.currentSnapshot.get.version == 99L)
  }

  test("sticky batch fence survives beyond the applied window") {
    val lake = new LakeTable(TestSpark.tmpDir("lakesticky"), spark, appliedWindow = 2)
    val df = Seq(("r1", "p1", 1L)).toDF("repo", "path", "seq")
    val f = lake.writeDataFiles(df, "st")
    lake.commit("sticky-0", Map.empty, df.schema, Nil, f, lake.currentSnapshot,
      sticky = true)
    // 5 > window intervening commits evict non-sticky fences
    (0 until 5).foreach(i =>
      lake.commit(s"w$i", Map("p0" -> i.toLong), schema, Nil, Nil, lake.currentSnapshot))
    assert(!lake.currentSnapshot.get.applied.contains("sticky-0"))
    assert(lake.currentSnapshot.get.saved.get("sticky-0").contains(""))
    val vBefore = lake.currentVersion.get
    // late replay: must be a metadata no-op (an offsets-less save has no
    // watermark backstop — the sticky map is its only fence)
    assert(lake.commit("sticky-0", Map.empty, schema, Nil, f, lake.currentSnapshot,
      sticky = true) == vBefore)
    assert(lake.currentVersion.get == vBefore)
  }

  test("lineage side-table mirrors per-commit counters and batch ids") {
    val lake = new LakeTable(TestSpark.tmpDir("lakelin"), spark)
    val applier = new CdcApplier(lake, spark)
    val ev = ChangeLogGen.events(spark, 600, 7L)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
    applier.applyBatch(ev.filter($"seq" < 300), "lin-a")
    applier.applyBatch(ev.filter($"seq" >= 300), "lin-b")
    val rows = lake.lineageTable().orderBy($"version").collect()
    assert(rows.map(_.getAs[String]("batch_id")).toSeq == Seq("lin-a", "lin-b"))
    val opCounts = ev.withColumn("half", $"seq" >= 300)
      .groupBy($"half").agg(
        sum(when($"op" === "DELETE", 1L).otherwise(0L)).as("d"),
        sum(when($"op" =!= "DELETE", 1L).otherwise(0L)).as("u"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert((rows(0).getAs[Long]("deletes"), rows(0).getAs[Long]("upserts"))
      == opCounts(false))
    assert((rows(1).getAs[Long]("deletes"), rows(1).getAs[Long]("upserts"))
      == opCounts(true))
    // rows_after of the last commit = current table size
    assert(rows(1).getAs[Long]("rows_after") == lake.read().count())
  }

  test("manifest-recorded bytes: file index plans with zero filesystem status calls") {
    val lake = new LakeTable(TestSpark.tmpDir("lakebytes"), spark)
    val ev = ChangeLogGen.events(spark, 800, 31L)
      .filter(lower($"source") === "app.change.log")
      .select($"repo", $"path", $"commit", $"lang", $"content", $"seq")
    val files = lake.writeDataFiles(
      ev.repartitionByRange(3, col("repo"), col("path")), "bytes-0")
    lake.commit("bytes-0", Map("p0" -> 1L), ev.schema, Nil, files, lake.currentSnapshot)
    val snap = lake.currentSnapshot.get
    // every entry carries its true on-disk size from the footer pass
    snap.dataFiles.foreach { f =>
      assert(f.bytes ==
        java.nio.file.Files.size(java.nio.file.Paths.get(lake.root, f.path)),
        s"recorded bytes must match disk for ${f.path}")
    }
    // the proof of zero status calls: hide the data files entirely —
    // index build, listing and size statistics must still answer (a
    // single getFileStatus would throw FileNotFoundException)
    val dataDir = java.nio.file.Paths.get(lake.root, "data")
    val hidden = java.nio.file.Paths.get(lake.root, "data-hidden")
    java.nio.file.Files.move(dataDir, hidden)
    try {
      val ix = new graft.sources.GraftEntriesFileIndex(lake.root, snap.dataFiles)
      assert(ix.sizeInBytes == snap.dataFiles.map(_.bytes).sum)
      val listed = ix.listFiles(Nil, Nil).flatMap(_.files)
      assert(listed.size == snap.dataFiles.size)
      assert(listed.map(_.getLen).sum == snap.dataFiles.map(_.bytes).sum)
    } finally java.nio.file.Files.move(hidden, dataDir)
  }

  test("compaction can target bytes: undersized-by-bytes files are folded, large kept") {
    val lake = new LakeTable(TestSpark.tmpDir("lakebcompact"), spark)
    val ev = ChangeLogGen.events(spark, 3000, 37L)
      .filter(lower($"source") === "app.change.log")
      .select($"repo", $"path", $"commit", $"lang", $"content", $"seq")
    val big = lake.writeDataFiles(ev.filter($"seq" % 4 =!= 0).coalesce(1), "bc-big")
    val tiny = lake.writeDataFiles(
      ev.filter($"seq" % 4 === 0).repartitionByRange(3, col("repo"), col("path")),
      "bc-tiny")
    lake.commit("bc-0", Map("p0" -> 1L), ev.schema, Nil, big ++ tiny, lake.currentSnapshot)
    val before = lake.currentSnapshot.get.dataFiles
    val bigBytes = big.map(_.bytes).max
    val threshold = tiny.map(_.bytes).max + 1
    assert(threshold <= bigBytes, "fixture: tiny files must be smaller than the big one")
    val total = lake.read().count()
    // minRows = 1 means NO file qualifies by rows — selection is bytes-only
    assert(lake.compact(minRows = 1, minBytes = threshold).nonEmpty)
    val after = lake.currentSnapshot.get.dataFiles
    assert(after.map(_.path).toSet.intersect(big.map(_.path).toSet) == big.map(_.path).toSet,
      "the large file must be kept by reference")
    assert(after.size < before.size, "tiny files must be folded together")
    assert(lake.read().count() == total, "compaction is pure maintenance")
  }

  test("change feed across a delete consolidation reads O(churn), not O(accumulated deletes)") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecdfcons"), spark)
    val app = new CdcApplier(lake, spark, mergeOnRead = true)
    def rows(ids: Range, tag: String, seqBase: Long) =
      ids.map { i => ("UPDATE", "p0", f"cr$i%04d", "f", s"c$tag$i", "scala",
        s"content-$tag-$i", seqBase + i) }
        .toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    app.applyBatch(rows(0 until 800, "a", 0), "cons-0")       // v0 base
    app.applyBatch(rows(0 until 500, "b", 10000), "cons-1")   // v1: 500-key churn
    val vA = lake.currentVersion.get
    app.applyBatch(rows(0 until 30, "c", 20000), "cons-2")    // v2: 30-key churn
    assert(lake.consolidateDeletes().nonEmpty)                // v3: merges 530 entries
    val vB = lake.currentVersion.get
    // the consolidated output must NOT enter the candidate set — only
    // the interval's genuine churn files (30 delete entries, not 530)
    val (_, _, churnDel) = lake.changeFeedCandidateFiles(
      lake.snapshot(vA), lake.snapshot(vB))
    val churnRows = churnDel.map(_.rows).sum
    assert(churnRows > 0 && churnRows <= 60,
      s"delete-side candidates must be the interval churn (~30 rows), got $churnRows")
    // and the feed across the consolidation still sees exactly the churn
    val feed = lake.changeFeed(vA, vB)
      .select($"repo", $"change_type").collect()
    assert(feed.map(_.getString(0)).toSet ==
      (0 until 30).map(i => f"cr$i%04d").toSet)
    assert(feed.forall(_.getString(1) == "update"))
    // a consolidation-only interval is zero-candidate on the delete side
    val (ad2, rm2, cd2) = lake.changeFeedCandidateFiles(
      lake.snapshot(vB - 1), lake.snapshot(vB))
    assert(ad2.isEmpty && rm2.isEmpty && cd2.isEmpty,
      "maintenance-only interval must contribute no candidates at all")
  }

  test("change feed pins no session cache: repeated feeds leave the CacheManager empty") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecdfcache"), spark)
    val app = new CdcApplier(lake, spark)
    def rows(ids: Range, tag: String, seqBase: Long) =
      ids.map { i => ("UPDATE", "p0", f"cc$i%04d", "f", s"c$tag$i", "scala",
        s"content-$tag-$i", seqBase + i) }
        .toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    app.applyBatch(rows(0 until 50, "a", 0), "cc-0")
    app.applyBatch(rows(0 until 20, "b", 1000), "cc-1")
    // a streaming CDF maintainer calls changeFeed once per micro-batch and
    // never releases a session registry: each call must leave nothing behind
    (1 to 3).foreach(_ => assert(lake.changeFeed(0L, 1L).collect().length == 20))
    assert(spark.sharedState.cacheManager.isEmpty,
      "changeFeed must not register a session-lifetime cache")
  }

  test("merge-on-read live-row chain: rows_after equals the table size across a delete consolidation") {
    val lake = new LakeTable(TestSpark.tmpDir("lakelivechain"), spark)
    val app = new CdcApplier(lake, spark, mergeOnRead = true)
    def rows(ids: Range, tag: String, seqBase: Long) =
      ids.map { i => ("UPDATE", "p0", f"lc$i%04d", "f", s"c$tag$i", "scala",
        s"content-$tag-$i", seqBase + i) }
        .toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    def assertChain(after: String): Unit = {
      val newest = lake.lineageTable().orderBy($"version".desc).head()
      assert(newest.getAs[Long]("rows_after") == lake.read().count(), s"after $after")
    }
    app.applyBatch(rows(0 until 800, "a", 0), "lc-0")
    assertChain("the base batch")
    app.applyBatch(rows(0 until 500, "b", 10000), "lc-1")
    assertChain("the first update batch")
    app.applyBatch(rows(0 until 30, "c", 20000), "lc-2")
    assertChain("the second update batch")
    // the data files now hold 1 330 physical rows for 800 live keys
    assert(lake.consolidateDeletes().nonEmpty)
    assertChain("the delete consolidation")
    // 10 updates + 50 new keys chain from the consolidation's count
    app.applyBatch(rows(790 until 850, "d", 30000), "lc-3")
    assertChain("the batch after the consolidation")
    assert(lake.read().count() == 850L)
  }

  test("readSince: change feed matches filtered full read and prunes files by seq stats") {
    val lake = new LakeTable(TestSpark.tmpDir("lakefeed"), spark)
    val applier = new CdcApplier(lake, spark)
    // three batches over DISJOINT repo groups and seq ranges, so earlier
    // batches' files are retained by reference and must be pruned by the
    // feed's footer-maxSeq check
    val ev = (0 until 300).map { i =>
      val b = i / 100
      ("UPDATE", s"$b", f"g$b-repo${i % 10}%02d", s"p${i % 50}", s"c$i", "scala",
        s"content-$i", i.toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    (0 until 3).foreach { b =>
      applier.applyBatch(ev.filter($"seq" >= b * 100 && $"seq" < (b + 1) * 100), s"s-$b")
    }
    val (feed, scanned, total) = lake.readSince(199)
    val got = feed.select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet
    val want = lake.read().filter($"seq" > 199)
      .select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    assert(scanned < total, s"expected manifest pruning, scanned $scanned/$total")
    // nothing newer than the high watermark:
    assert(lake.readSince(Long.MaxValue - 1)._1.isEmpty)
  }

  test("exportHive materializes the reference's year/month/day/hour layout") {
    val lake = new LakeTable(TestSpark.tmpDir("lakehive"), spark)
    val applier = new CdcApplier(lake, spark)
    val ev = ChangeLogGen.events(spark, 400, 11L)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
    applier.applyBatch(ev, "h-0")
    val out = TestSpark.tmpDir("hiveout")
    lake.exportHive(out, timestamp_seconds($"seq" * 3600))
    val back = spark.read.parquet(out)
    assert(back.count() == lake.read().count())
    assert(Seq("year", "month", "day", "hour").forall(back.columns.contains))
    val parts = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.startsWith("year=")))
  }

  test("expireSnapshots vacuums dropped files and crash orphans, keeps the window readable") {
    val lake = new LakeTable(TestSpark.tmpDir("lakevac"), spark)
    val applier = new CdcApplier(lake, spark)
    val ev = ChangeLogGen.events(spark, 1200, 17L)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
    // overlapping key ranges → each batch rewrites (drops) earlier files
    (0 until 4).foreach { b =>
      applier.applyBatch(ev.filter($"seq" >= b * 300 && $"seq" < (b + 1) * 300), s"v-$b")
    }
    // plant a crash orphan: a data file never referenced by any manifest
    val orphan = java.nio.file.Paths.get(lake.root, "data", "orphan-00000.parquet")
    java.nio.file.Files.writeString(orphan, "not really parquet")
    val cur = lake.currentVersion.get
    val want = lake.read().select($"repo", $"path", $"commit").collect().map(_.toSeq).toSet
    val (metaGone, dataGone) = lake.expireSnapshots(keepLast = 2)
    assert(metaGone == cur.toInt - 1) // kept cur and cur-1
    assert(dataGone >= 1) // at least the orphan
    assert(!java.nio.file.Files.exists(orphan))
    // current state unchanged; time travel valid inside the window only
    val got = lake.read().select($"repo", $"path", $"commit").collect().map(_.toSeq).toSet
    assert(got == want)
    assert(lake.read(Some(cur - 1)).count() >= 0)
    intercept[Exception] { lake.snapshot(cur - 2) }
    // lineage table tolerates the missing early manifests
    val lin = lake.lineageTable().collect()
    assert(lin.map(_.getAs[Long]("version")).toSeq == Seq(cur - 1, cur))
    // engine continues: next commit lands as cur+1
    applier.applyBatch(ev.filter($"seq" < 10).withColumn("part", lit("late")), "v-late")
    assert(lake.currentVersion.get == cur + 1)
  }

  test("expireSnapshots survives a previous deeper expire (gap in kept versions)") {
    val lake = new LakeTable(TestSpark.tmpDir("lakevac2"), spark)
    val applier = new CdcApplier(lake, spark)
    val ev = ChangeLogGen.events(spark, 800, 23L)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
    (0 until 4).foreach { b =>
      applier.applyBatch(ev.filter($"seq" >= b * 200 && $"seq" < (b + 1) * 200), s"g-$b")
    }
    // expire(keepLast=1) at v3 deletes v0..v2; then commit v4; a second
    // expire(keepLast=3) must NOT try to read the already-deleted v2.json
    lake.expireSnapshots(keepLast = 1)
    applier.applyBatch(ev.filter($"seq" < 5).withColumn("part", lit("again")), "g-again")
    val want = lake.read().select($"repo", $"path", $"commit").collect().map(_.toSeq).toSet
    val (metaGone, _) = lake.expireSnapshots(keepLast = 3) // window reaches into the gap
    assert(metaGone == 0) // only v3 and v4 exist, both inside the window
    val got = lake.read().select($"repo", $"path", $"commit").collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("file stats: 64-file write commits with exact per-file stats") {
    val lake = new LakeTable(TestSpark.tmpDir("lakestats64"), spark)
    // pin 64 output files — far more than local[4]'s parallelism; the
    // driver reads every file's footer
    val applier = new CdcApplier(lake, spark, clusterPartitions = 64)
    val wide = (0 until 6400).map { i =>
      ("UPDATE", (i % 4).toString, f"repo-${(i * 131) % 320}%03d", s"p${i % 20}",
        s"c$i", "scala", s"content-$i", i.toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    applier.applyBatch(wide, "stats-0")
    val snap = lake.currentSnapshot.get
    assert(snap.files.size >= 32, s"expected many files, got ${snap.files.size}")
    // manifest stats agree with the data: total rows and global seq range
    assert(snap.files.map(_.rows).sum == lake.read().count())
    val Array(expectMinSeq, expectMaxSeq) = lake.read()
      .agg(min($"seq"), max($"seq")).head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(snap.files.map(_.minSeq).min == expectMinSeq)
    assert(snap.files.map(_.maxSeq).max == expectMaxSeq)
    // per-file repo bounds really bound the file's contents (spot check
    // via a pruning read on a repo that exists)
    val (touched, _) = graft.reference.LakeRef.pruneFiles(snap, Set("repo-001"))
    assert(touched.nonEmpty)
    val inTouched = spark.read.schema(snap.schema)
      .parquet(touched.map(f =>
        java.nio.file.Paths.get(lake.root, f.path).toString): _*)
      .filter($"repo" === "repo-001").count()
    assert(inTouched == lake.read().filter($"repo" === "repo-001").count())
  }

  test("a write of more files than the parallelism runs no job beyond the write itself") {
    val lake = new LakeTable(TestSpark.tmpDir("lakestatsjobs"), spark)
    val parts = 2 * spark.sparkContext.defaultParallelism
    // a plain range has `parts` partitions and no exchange: its parquet
    // write is one job, and the footer stats add none
    val df = spark.range(0, 40L * parts, 1, parts)
      .select(format_string("sj%04d", $"id").as("repo"), lit("p").as("path"), $"id".as("seq"))
    val plain = TestSpark.jobsOf(df.write.parquet(TestSpark.tmpDir("lakestatsplain") + "/out"))
    var entries: Seq[LakeTable#FileEntry] = Nil
    val withStats = TestSpark.jobsOf { entries = lake.writeDataFiles(df, "sj") }
    assert(entries.size == parts)
    assert(withStats == plain, s"footer stats ran ${withStats - plain} extra job(s)")
    assert(entries.map(_.rows).sum == 40L * parts)
    assert(entries.map(_.minSeq).min == 0L && entries.map(_.maxSeq).max == 40L * parts - 1)
  }

  test("range-clustered writes keep copy-on-write localized to touched repos") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecluster"), spark)
    // pin 4 output files (AQE would coalesce this tiny batch to one)
    val applier = new CdcApplier(lake, spark, clusterPartitions = 4)
    // one batch over MANY repos in hash-arbitrary order → several files
    val wide = (0 until 800).map { i =>
      ("UPDATE", (i % 4).toString, f"repo-${(i * 37) % 100}%03d", s"p${i % 20}",
        s"c$i", "scala", s"content-$i", i.toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    applier.applyBatch(wide, "wide-0")
    val snap = lake.currentSnapshot.get
    assert(snap.files.size >= 2, "need multiple files to show pruning")
    // a clustered layout gives files DISJOINT-ish tight ranges: a batch
    // touching one repo must leave most files untouched (a hash-
    // partitioned write would put every repo range in every file)
    val (touched, retained) = graft.reference.LakeRef.pruneFiles(snap, Set("repo-001"))
    assert(touched.size < snap.files.size,
      s"expected localized CoW, but ${touched.size}/${snap.files.size} touched")
    assert(retained.nonEmpty)
  }

  test("distributed interval-index pruning ≡ driver-side reference pruning") {
    val lake = new LakeTable(TestSpark.tmpDir("lakeprune"), spark)
    val applier = new CdcApplier(lake, spark)
    val ev = ChangeLogGen.events(spark, 2000, 13L)
      .filter(lower($"source") === "app.change.log")
      .withColumn("grp", (substring($"repo", 6, 4).cast("int") / 25).cast("long"))
      .withColumn("part", concat($"grp", lit("-"), $"part"))
      .select($"grp", $"op", $"part", $"repo", $"path", $"commit", $"lang",
        $"content", $"seq")
    (0 until 4).foreach { b =>
      applier.applyBatch(ev.filter($"grp" === b).drop("grp"), s"pr-$b")
    }
    val snap = lake.currentSnapshot.get
    assert(snap.files.size >= 2)
    for (repos <- Seq(Set("repo-0000"), Set("repo-0003", "repo-0090"),
        Set("nope"), Set("repo-0000", "nope", "repo-0055"))) {
      val (t1, r1) = graft.reference.LakeRef.pruneFiles(snap, repos)
      val (t2, r2) = lake.pruneFilesDistributed(snap, repos.toSeq.toDF("repo"))
      assert(t1.map(_.path).toSet == t2.map(_.path).toSet, s"touched for $repos")
      assert(r1.map(_.path).toSet == r2.map(_.path).toSet, s"retained for $repos")
    }
  }

  test("optimistic commits: two appenders race 50 commits each, no lost updates") {
    val root = TestSpark.tmpDir("lakerace")
    // two INDEPENDENT LakeTable instances over the same root — the
    // process-simulation of two writers; the manifest link is the only
    // coordination point
    def appender(tag: String): Thread = new Thread(() => {
      val lake = new LakeTable(root, spark)
      (0 until 50).foreach { i =>
        val snap = lake.currentSnapshot
        val e = lake.FileEntry(s"data/$tag-$i.parquet", 1L, s"$tag$i", s"$tag$i",
          i.toLong, i.toLong, bytes = 1L)
        lake.commit(s"$tag-$i", Map(s"part-$tag" -> i.toLong), schema,
          dropped = Nil, added = Seq(e), base = snap)
      }
    })
    val (a, b) = (appender("aa"), appender("bb"))
    a.start(); b.start(); a.join(120000); b.join(120000)
    val lake = new LakeTable(root, spark)
    val snap = lake.currentSnapshot.get
    // every append from both writers survived: nothing was clobbered by
    // the races, and both offset streams advanced to their high-water
    assert(snap.files.size == 100, s"lost updates: ${snap.files.size}/100 files")
    assert(snap.files.map(_.path).toSet ==
      (0 until 50).flatMap(i => Seq(s"data/aa-$i.parquet", s"data/bb-$i.parquet")).toSet)
    assert(snap.offsets == Map("part-aa" -> 49L, "part-bb" -> 49L))
    assert(snap.version >= 99L)
  }

  test("a commit against an expired base rebases onto the head: no concurrent file is lost") {
    val root = TestSpark.tmpDir("lakeexpiredbase")
    val lake = new LakeTable(root, spark)
    def rows(tag: String, n: Int) =
      (0 until n).map(i => (s"$tag-repo$i", "p", i.toLong)).toDF("repo", "path", "seq")
    val a = lake.writeDataFiles(rows("a", 3), "eb-a")
    lake.commit("eb-a", Map.empty, rows("a", 0).schema, Nil, a, lake.currentSnapshot) // v0
    val base = lake.currentSnapshot
    // a second writer commits F (v1), then expiry deletes v0's manifest
    // while the first writer still holds v0 as its base
    val other = new LakeTable(root, spark)
    val f = other.writeDataFiles(rows("f", 2), "eb-f")
    other.commit("eb-f", Map.empty, rows("f", 0).schema, Nil, f, other.currentSnapshot)
    lake.expireSnapshots(keepLast = 1)
    intercept[java.nio.file.NoSuchFileException](lake.snapshot(0L))
    val g = lake.writeDataFiles(rows("g", 4), "eb-g")
    lake.commit("eb-g", Map.empty, rows("g", 0).schema, Nil, g, base)
    val head = lake.currentSnapshot.get
    assert(head.files.map(_.path).toSet == (a ++ f ++ g).map(_.path).toSet)
    val repos = lake.read().select($"repo").as[String].collect().toSet
    assert(repos == Set("a-repo0", "a-repo1", "a-repo2", "f-repo0", "f-repo1",
      "g-repo0", "g-repo1", "g-repo2", "g-repo3"))
  }

  test("a commit dropping a file a concurrent compaction rewrote away conflicts") {
    val lake = new LakeTable(TestSpark.tmpDir("lakeconflict"), spark)
    def rows(tag: String, n: Int) =
      (0 until n).map(i => (s"$tag-repo$i", "p", i.toLong)).toDF("repo", "path", "seq")
    val small = lake.writeDataFiles(rows("x", 2), "cf-x") ++
      lake.writeDataFiles(rows("y", 2), "cf-y")
    lake.commit("cf-0", Map.empty, rows("x", 0).schema, Nil, small, lake.currentSnapshot)
    val base = lake.currentSnapshot
    // the compactor folds both small files into one (v1) ...
    assert(lake.compact(minRows = Long.MaxValue).contains(1L))
    // ... so a writer that read v0 and rewrote the first file cannot rebase
    val rewrite = lake.writeDataFiles(rows("x", 3), "cf-rw")
    val err = intercept[java.util.ConcurrentModificationException](
      lake.commit("cf-1", Map.empty, rows("x", 0).schema, small.take(1), rewrite, base))
    assert(err.getMessage.contains("removed by a concurrent commit"))
    assert(lake.currentVersion.contains(1L))
    assert(lake.read().count() == 4L)
  }

  test("maintenance overlaps ingest: compaction races the applier, both commit, no rows lost") {
    val root = TestSpark.tmpDir("lakemaint")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compacted = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // applier thread: 6 batches over DISJOINT repo groups (fresh repos per
    // batch → the applier drops no files, so the only rewrite racing it is
    // the compactor's — the overlap the round-3 single-writer contract
    // forbade)
    val applier = new Thread(() => {
      val lake = new LakeTable(root, spark)
      val app = new CdcApplier(lake, spark)
      (0 until 6).foreach { b =>
        val ev = (0 until 200).map { i =>
          ("UPDATE", s"$b", f"m$b-repo${i % 20}%02d", s"p${i % 40}", s"c$b-$i",
            "scala", s"content-$b-$i", (b * 200 + i).toLong)
        }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
        app.applyBatch(ev, s"maint-$b")
      }
      stop.set(true)
    })
    val compactor = new Thread(() => {
      val lake = new LakeTable(root, spark)
      try while (!stop.get()) {
        if (lake.compact(minRows = Long.MaxValue).isDefined) compacted.incrementAndGet()
        Thread.sleep(20)
      } catch { case t: Throwable => maintErr.set(t) }
    })
    applier.start(); compactor.start()
    applier.join(180000); stop.set(true); compactor.join(180000)
    assert(maintErr.get() == null, s"compactor died: ${maintErr.get()}")
    assert(compacted.get() >= 1, "compactor never committed while ingest ran")
    // no rows lost or duplicated by the interleaved rewrites
    val lake = new LakeTable(root, spark)
    val got = lake.read().select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet
    val want = (0 until 6).flatMap { b =>
      // per (repo,path) key the max seq wins (UPDATE-only log)
      (0 until 200).map(i => (f"m$b-repo${i % 20}%02d", s"p${i % 40}", (b * 200 + i).toLong))
    }.groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).map(t => Seq(t._1, t._2, t._3)).toSet
    assert(got == want)
  }

  test("bulk keyed read: 10^4 keys route through the broadcast semi-join, same rows") {
    val lake = new LakeTable(TestSpark.tmpDir("lakebulk"), spark)
    val applier = new CdcApplier(lake, spark, clusterPartitions = 8)
    val ev = (0 until 20000).map { i =>
      ("UPDATE", (i % 4).toString, f"repo-${i % 500}%03d", s"p${i / 500}",
        s"c$i", "scala", s"content-$i", i.toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    applier.applyBatch(ev, "bulk-0")
    val keys = (0 until 10000).map(i => (f"repo-${i % 500}%03d", s"p${i % 40}"))
    val (bulkDf, _, _) = lake.lookupKeys(keys)
    val plan = bulkDf.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"bulk path must semi-join:\n${plan.take(800)}")
    assert(!plan.contains(" OR "), "bulk path must not build an OR-chain predicate")
    // equivalence with a driver-side reference filter (the OR-chain path
    // CANNOT express 10^4 keys — a 10^4-term predicate overflows the
    // expression-conversion stack, which is precisely why bulk sets must
    // route through the semi-join)
    val keySet = keys.toSet
    val gotRows = bulkDf.select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet
    val refRows = lake.read().select($"repo", $"path", $"seq").collect()
      .filter(r => keySet.contains((r.getString(0), r.getString(1)))).map(_.toSeq).toSet
    assert(gotRows == refRows && gotRows.nonEmpty)
    // and the small-set OR-chain path agrees on a subset it CAN express;
    // 63/64/65 keys straddle LookupBulkThreshold (OR-chain up to 64 keys,
    // semi-join past it)
    Seq(20, 63, 64, 65).foreach { n =>
      val fewKeys = keys.distinct.take(n)
      assert(fewKeys.size == n)
      val (fewDf, _, _) = lake.lookupKeys(fewKeys)
      val fewSet = fewKeys.toSet
      assert(fewDf.select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet ==
        refRows.filter(r => fewSet.contains((r.head.asInstanceOf[String],
          r(1).asInstanceOf[String]))), s"$n keys")
    }
  }

  test("merge-on-read point lookup prunes delete files and broadcasts the delete side") {
    val lake = new LakeTable(TestSpark.tmpDir("lakemorpl"), spark)
    val app = new CdcApplier(lake, spark, clusterPartitions = 8, mergeOnRead = true)
    def batch(tag: String, seqBase: Long) = (0 until 4000).map { i =>
      ("UPDATE", (i % 4).toString, f"pl-repo${(i * 131) % 400}%03d", s"p${i % 10}",
        s"c$tag$i", "scala", s"content-$tag-$i", seqBase + i)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    app.applyBatch(batch("a", 0), "mpl-0")
    app.applyBatch(batch("b", 10000), "mpl-1") // updates every key → deletes
    val snap = lake.currentSnapshot.get
    assert(snap.deleteFiles.size >= 4, s"need several delete files, got ${snap.deleteFiles.size}")
    val any = lake.read().select($"repo", $"path").head()
    val (rows, scanned, total) = lake.lookupKeys(Seq((any.getString(0), any.getString(1))))
    val got = rows.collect()
    assert(got.length == 1 && got.head.getAs[Long]("seq") >= 10000) // batch-b winner
    assert(scanned < total) // data side pruned (range-clustered)
    // the DELETE side must prune too: a point read opens only delete
    // files whose repo range overlaps the scanned data files — and the
    // small per-key delete maximum must come in as a broadcast, never a
    // shuffle of the data side
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scanFiles(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case q: QueryStageExec => scanFiles(q.plan) // AQE stage: subtree not in children
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
      case other => (other.children ++ other.subqueries).flatMap(scanFiles)
    }
    val files = scanFiles(rows.queryExecution.executedPlan)
    val delOpened = files.count(_.contains("-m-delete-"))
    assert(delOpened >= 1 && delOpened < snap.deleteFiles.size,
      s"delete files opened: $delOpened of ${snap.deleteFiles.size}")
    assert(rows.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the delete side must broadcast against the point read")
    // delete resolution is one anti-join probe: neither the point lookup
    // nor an incremental poll of the same lake shuffles or aggregates
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def assertProbeOnly(what: String, plan: SparkPlan): Unit = {
      val bad = nodes(plan).filter(n =>
        n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BaseAggregateExec])
      assert(bad.isEmpty, s"$what: ${bad.map(_.nodeName).mkString(", ")}\n$plan")
    }
    assertProbeOnly("point lookup", rows.queryExecution.executedPlan)
    val (since, _, _) = lake.readSince(13000L)
    val sinceRows = since.select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet
    assert(sinceRows.nonEmpty && sinceRows == lake.read().filter($"seq" > 13000L)
      .select($"repo", $"path", $"seq").collect().map(_.toSeq).toSet)
    assertProbeOnly("readSince", since.queryExecution.executedPlan)
  }

  test("point lookup: manifest range pruning + parquet blooms on key columns") {
    // pinned output partitions → several files with disjoint key ranges
    val lake = new LakeTable(TestSpark.tmpDir("lakelookup"), spark)
    val applier = new CdcApplier(lake, spark, clusterPartitions = 8)
    val ev = ChangeLogGen.events(spark, 3000, 21L)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
    applier.applyBatch(ev, "pl-0")
    val snap = lake.currentSnapshot.get
    assert(snap.files.size >= 4)
    // a live key: any row of the current state
    val any = lake.read().select($"repo", $"path").head()
    val key = (any.getString(0), any.getString(1))
    val (rows, scanned, total) = lake.lookupKeys(Seq(key))
    val got = rows.collect()
    assert(got.length == 1 && got.head.getAs[String]("repo") == key._1)
    assert(scanned >= 1 && scanned < total,
      s"manifest ranges must prune a clustered table: $scanned/$total")
    // a key outside every range scans nothing
    val (none, scanned0, _) = lake.lookupKeys(Seq(("zzz-absent", "p-x")))
    assert(none.isEmpty && scanned0 == 0)
    // write-time bloom filters land in the parquet metadata once the key
    // cardinality overflows the dictionary page (parquet skips blooms for
    // fully dictionary-encoded chunks — dictionary filtering already
    // prunes those exactly, so the bloom only matters at high NDV, which
    // is precisely the 10^8-keys-per-file regime)
    val hc = spark.range(80000).select(
      concat(lit("repo-"), ($"id" % 50).cast("string")).as("repo"),
      md5(concat(lit("x"), $"id".cast("string"))).as("path"), // 80k uniques > 1MB dict
      $"id".as("seq"))
    val bloomLake = new LakeTable(TestSpark.tmpDir("lakebloom"), spark)
    val entries = bloomLake.writeDataFiles(hc.repartition(2), "bloom")
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val p = java.nio.file.Paths.get(bloomLake.root, entries.head.path)
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), spark.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try {
      val block = reader.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val pathCol = block.getColumns.asScala
        .find(_.getPath.toDotString == "path").get
      assert(reader.getBloomFilterDataReader(block)
        .readBloomFilter(pathCol) != null, "expected a bloom filter on path")
    } finally reader.close()
  }

  test("chunked manifests: unchanged chunks re-referenced by name, disturbed ones rewritten, expiry sweeps") {
    val lake = new LakeTable(TestSpark.tmpDir("lakechunk"), spark, chunkSize = 4)
    def entry(i: Int) =
      lake.FileEntry(f"data/f$i%02d", 1L, f"r$i%03d", f"r$i%03d", i.toLong, i.toLong,
        bytes = 1L)
    val fsA = (0 until 8).map(entry)
    lake.commit("ck-a", Map("p" -> 1L), schema, Nil, fsA, lake.currentSnapshot)
    val chA = lake.currentSnapshot.get.chunkRefs
    assert(chA.size == 2 && chA.map(_.n) == Seq(4, 4))
    // append retaining everything: both A-chunks are re-referenced BY
    // NAME (zero metadata rewritten for them), one fresh chunk appears
    val fsB = (8 until 10).map(entry)
    lake.commit("ck-b", Map("p" -> 2L), schema, Nil, fsB, lake.currentSnapshot)
    val chB = lake.currentSnapshot.get.chunkRefs
    assert(chB.size == 3)
    assert(chA.map(_.name).forall(n => chB.map(_.name).contains(n)))
    assert(lake.currentSnapshot.get.files.toSet == (fsA ++ fsB).toSet)
    // dropping ONE file rewrites only its own chunk; the other two
    // chunk files survive untouched
    val f00 = lake.currentSnapshot.get.files.filter(_.path == "data/f00")
    lake.commit("ck-c", Map("p" -> 3L), schema, f00, Nil, lake.currentSnapshot)
    val chC = lake.currentSnapshot.get.chunkRefs
    val namesC = chC.map(_.name)
    assert(!namesC.contains(chA.head.name), "disturbed chunk must be replaced")
    assert(namesC.contains(chA(1).name) && namesC.contains(chB.last.name),
      "undisturbed chunks must keep their files")
    assert(lake.currentSnapshot.get.files.size == 9)
    // expiry sweeps chunk files referenced only by expired versions...
    lake.expireSnapshots(keepLast = 1)
    val left = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(lake.root, "meta"))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("c-") && n.endsWith(".json")).toSet
      } finally ls.close()
    }
    assert(left == namesC.toSet)
    // ...and a FRESH instance (cold chunk cache) still reads the table
    val lake2 = new LakeTable(lake.root, spark)
    assert(lake2.currentSnapshot.get.files.size == 9)
    assert(lake2.currentSnapshot.get.files.toSet ==
      (fsA.drop(1) ++ fsB).map(f => lake2.FileEntry(f.path, f.rows, f.minRepo,
        f.maxRepo, f.minSeq, f.maxSeq, f.kind, f.bytes)).toSet)
  }

  test("amortized coalescing bounds chunk count across many tiny commits") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecoal"), spark, chunkSize = 16)
    def entry(i: Int) =
      lake.FileEntry(f"data/g$i%03d", 1L, f"r$i%03d", f"r$i%03d", i.toLong, i.toLong,
        bytes = 1L)
    lake.commit("co-0", Map("p" -> 0L), schema, Nil, Seq(entry(0)), lake.currentSnapshot)
    (1 until 64).foreach { i =>
      val snap = lake.currentSnapshot.get
      lake.commit(s"co-$i", Map("p" -> i.toLong), schema, Nil, Seq(entry(i)), Some(snap))
    }
    val snap = lake.currentSnapshot.get
    assert(snap.files.size == 64)
    // without folding this would be 64 one-entry chunks; the bound is
    // O(files / (chunkSize/2)) folded chunks + up to 8 pending smalls
    assert(snap.chunkRefs.size <= 64 / (16 / 2) + 8,
      s"chunk count must stay bounded, got ${snap.chunkRefs.size}")
  }

  test("cold point lookup parses only chunk files overlapping the probe key") {
    val root = TestSpark.tmpDir("lakechunkprune")
    val lake = new LakeTable(root, spark, chunkSize = 2)
    val applier = new CdcApplier(lake, spark, clusterPartitions = 8)
    val ev = ChangeLogGen.events(spark, 3000, 22L)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
    applier.applyBatch(ev, "cp-0")
    val snap = lake.currentSnapshot.get
    val nChunks = snap.chunkRefs.size
    assert(nChunks >= 3, s"need several chunks, got $nChunks")
    val probe = lake.read().select($"repo", $"path").head()
    // a FRESH instance: the manifest's chunk stats alone must bound which
    // chunk files get parsed for a point probe
    val cold = new LakeTable(root, spark, chunkSize = 2)
    assert(cold.parsedChunks.isEmpty, "constructor must read no chunks")
    val (rows, scanned, total) =
      cold.lookupKeys(Seq((probe.getString(0), probe.getString(1))))
    assert(rows.count() == 1)
    assert(scanned < total, "file-level pruning must hold through the chunked path")
    assert(cold.parsedChunks.size < nChunks,
      s"cold lookup parsed ${cold.parsedChunks.size} of $nChunks chunk files")
  }
}
