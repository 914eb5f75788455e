package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApplier
import graft.gen.ChangeLogGen
import graft.lake.LakeTable

/** Small-file compaction: table state invariant, file count shrinks,
  * history (pre-compaction snapshots) still readable. */
class CompactionSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact merges small files without changing table state") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecompact"), spark)
    val applier = new CdcApplier(lake, spark)
    // four batches over DISJOINT repo groups (own offsets namespace per
    // group) → four+ separate data files accumulate, none rewritten
    val ev = ChangeLogGen.events(spark, 2000, 13L)
      .filter(lower($"source") === "app.change.log")
      // contiguous repo ranges per group so manifest pruning retains
      // other groups' files (hash-grouping would interleave key ranges)
      .withColumn("grp", (substring($"repo", 6, 4).cast("int") / 25).cast("long"))
      .withColumn("part", concat($"grp", lit("-"), $"part"))
      .select($"grp", $"op", $"part", $"repo", $"path", $"commit", $"lang",
        $"content", $"seq")
    (0 until 4).foreach { b =>
      applier.applyBatch(ev.filter($"grp" === b).drop("grp"), s"c-$b")
    }
    assert(lake.currentSnapshot.get.files.size >= 2)
    val before = lake.read().select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    val filesBefore = lake.currentSnapshot.get.files.size
    val vPre = lake.currentVersion.get

    val committed = lake.compact(minRows = Long.MaxValue) // everything is "small"
    assert(committed.nonEmpty)
    val after = lake.read().select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    assert(after == before)
    assert(lake.currentSnapshot.get.files.size < filesBefore)
    // pre-compaction snapshot still time-travel readable:
    assert(lake.read(Some(vPre)).count() == before.size)
    // offsets unchanged — compaction never moves the resume point:
    assert(lake.committedOffsets == lake.snapshot(vPre).offsets)
  }

  test("whole-table compact is a parallel multi-file rewrite with disjoint key ranges") {
    // a rewrite above SmallWriteRows range-partitions under AQE sizing;
    // the session's small advisory target stands in for a table of many
    // target-sized files, so the assertion is about the PLAN SHAPE: a
    // whole-table compact writes many files, never a forced one-task funnel
    val root = TestSpark.tmpDir("lakecompactmulti")
    val n = LakeTable.SmallWriteRows + 40000L
    Seq(0L, n / 2).foreach { from =>
      spark.range(from, from + n / 2)
        .select(format_string("mr%05d", $"id" % 4099).as("repo"),
          concat(lit("p"), $"id".cast("string")).as("path"), $"id".as("seq"),
          lit("c").as("commit"), lit("x").as("content"))
        .write.format("graft").mode("append").save(root)
    }
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    val lake = new LakeTable(root, session)
    assert(lake.currentSnapshot.get.files.size >= 2)
    val vPre = lake.currentVersion.get
    assert(lake.compact(minRows = Long.MaxValue).nonEmpty)
    val files = lake.currentSnapshot.get.files
    assert(files.size > 1, s"expected a multi-file compact, got ${files.size}")
    // range clustering ⇒ per-file REPO ranges are disjoint up to the
    // boundary repo (a repo may straddle a boundary, split on path)
    val sorted = files.sortBy(_.minRepo)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxRepo <= b.minRepo,
        s"overlapping compacted repo ranges: ${a.maxRepo} > ${b.minRepo}")
      case _ => ()
    }
    def rows(v: Option[Long]) = lake.read(v).select($"repo", $"path", $"seq")
    assert(rows(None).count() == n)
    assert(rows(Some(vPre)).exceptAll(rows(None)).isEmpty)
  }

  test("major compaction is targeted: only delete-overlapping files are rewritten") {
    val lake = new LakeTable(TestSpark.tmpDir("lakemortgt"), spark)
    val morApp = new CdcApplier(lake, spark, mergeOnRead = true)
    // four disjoint repo ranges (tg-g0-*, …, tg-g3-*), one batch each
    def group(g: Int) = (0 until 200).map { i =>
      ("UPDATE", g.toString, f"tg-g$g-r${i % 20}%02d", s"p${i % 10}",
        s"c$g-$i", "scala", s"body-$g-$i", (g * 1000 + i).toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    (0 until 4).foreach(g => morApp.applyBatch(group(g), s"t-$g"))
    // sparse MoR update confined to group 0 → its delete file's
    // [minRepo, maxRepo] stays inside the tg-g0 range
    val upd = (0 until 5).map { i =>
      ("UPDATE", "upd", f"tg-g0-r${(i * 3) % 20}%02d", s"p${(i * 3) % 10}",
        s"cu$i", "scala", s"new-$i", (10000 + i).toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    morApp.applyBatch(upd, "t-upd")
    val snap = lake.currentSnapshot.get
    assert(snap.deleteFiles.nonEmpty)
    assert(snap.deleteFiles.forall(d =>
      d.minRepo.startsWith("tg-g0") && d.maxRepo.startsWith("tg-g0")))
    val before = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet
    val keepExpected = snap.dataFiles.filter(f =>
      !f.minRepo.startsWith("tg-g0")).map(_.path).toSet
    assert(keepExpected.nonEmpty)

    // minRows = 0: nothing is "small" — only the delete-overlap rule
    // picks rewrite targets
    assert(lake.compact(minRows = 0).nonEmpty)
    val after = lake.currentSnapshot.get
    assert(after.deleteFiles.isEmpty, "all delete files must be folded")
    val afterPaths = after.dataFiles.map(_.path).toSet
    assert(keepExpected.subsetOf(afterPaths),
      "files outside the delete ranges must survive compaction UNREWRITTEN")
    assert(snap.dataFiles.filter(_.minRepo.startsWith("tg-g0"))
      .forall(f => !afterPaths.contains(f.path)),
      "files inside the delete range must be rewritten")
    val afterState = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet
    assert(afterState == before)
  }

  test("delete-file consolidation (minor compaction): per-key max, no data file touched") {
    val lake = new LakeTable(TestSpark.tmpDir("lakedelcons"), spark)
    val morApp = new CdcApplier(lake, spark, mergeOnRead = true)
    def batch(tag: String, seq0: Long, keys: Seq[Int]) = keys.map { k =>
      ("UPDATE", "p0", f"dc-r$k%02d", s"p$k", s"c-$tag-$k", "scala",
        s"body-$tag-$k", seq0 + k)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    morApp.applyBatch(batch("seed", 0, 0 until 20), "d-0")
    // three update drizzles with OVERLAPPING keys: key 3 is superseded
    // three times, so the per-key MAX (not any single file's entry) must
    // decide liveness after consolidation
    morApp.applyBatch(batch("u1", 1000, Seq(1, 3, 5)), "d-1")
    morApp.applyBatch(batch("u2", 2000, Seq(3, 7)), "d-2")
    morApp.applyBatch(batch("u3", 3000, Seq(3, 9, 11)), "d-3")
    val snap = lake.currentSnapshot.get
    assert(snap.deleteFiles.size >= 3)
    val dataPaths = snap.dataFiles.map(_.path).toSet
    val before = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet

    assert(lake.consolidateDeletes().nonEmpty)
    val after = lake.currentSnapshot.get
    assert(after.deleteFiles.size < snap.deleteFiles.size)
    assert(after.dataFiles.map(_.path).toSet == dataPaths,
      "minor compaction must not touch data files")
    val afterState = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet
    assert(afterState == before)
    // consolidated delete rows = per-key maxima: one row per superseded
    // key VERSION chain, not per delete entry
    val delRows = after.deleteFiles.map(_.rows).sum
    assert(delRows == 6, s"expected 6 per-key maxima (1,3,5,7,9,11), got $delRows")
    // already consolidated → no-op below the threshold
    assert(lake.consolidateDeletes(minFiles = 2).isEmpty ||
      after.deleteFiles.size >= 2)
    // a later MAJOR compaction still folds everything
    assert(lake.compact(minRows = 0).nonEmpty)
    val finalSnap = lake.currentSnapshot.get
    assert(finalSnap.deleteFiles.isEmpty)
    assert(lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet == before)
  }
}
