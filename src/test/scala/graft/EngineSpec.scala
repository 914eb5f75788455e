package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApplier
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.reference.ApplyRef

/** Engine e2e: seeded change log → full pipeline replay → final lake state
  * must equal a sequential in-memory oracle, by multiset of
  * (repo, path, commit, lang, sha256(content)) — the content-sha256 parity
  * invariant (BASELINE.json input_hint), strictly stronger than the
  * reference's shape-only e2e oracle (`run_e2e_test.py:102-116`).
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  val N = 4000L
  val Seed = 7L

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Sequential oracle over the same generated events. */
  lazy val oracle: Set[(String, String, String, String, String)] = {
    val rows = ChangeLogGen.events(spark, N, Seed)
      .filter(lower($"source") === "app.change.log")
      .select("repo", "path", "commit", "lang", "content", "seq", "op")
      .collect()
    rows.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (_, g) => g.maxBy(r => (r.getLong(5), r.getString(2))) }
      .filter(_.getString(6) != "DELETE")
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        sha256(r.getString(4))))
      .toSet
  }

  private def lakeState(lake: LakeTable): Set[(String, String, String, String, String)] =
    lake.read().select($"repo", $"path", $"commit", $"lang", sha2($"content", 256))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4))).toSet

  /** Replay the blob-serialized log in `nb` batches through the full
    * pipeline (split → parse → validate → repair → merge → commit). */
  private def replayBlobs(lake: LakeTable, nb: Int): Unit = {
    val blobs = ChangeLogGen.blobs(spark, N, Seed).cache()
    val perBatch = (N / 100 + nb) / nb // blob_id = id/100
    (0 until nb).foreach { b =>
      val batch = blobs.filter($"blob_id" >= b * perBatch && $"blob_id" < (b + 1) * perBatch)
        .select($"blob").as[String]
      CdcPipeline.processBlobs(spark, batch, lake, s"batch-$b")
    }
    blobs.unpersist()
  }

  test("full replay via concatenated-JSON blobs matches the oracle (4 batches)") {
    val lake = new LakeTable(TestSpark.tmpDir("lake4b"), spark)
    replayBlobs(lake, 4)
    assert(lakeState(lake) == oracle)
  }

  test("batch boundaries are irrelevant: 1 batch ≡ 7 batches") {
    val lakeA = new LakeTable(TestSpark.tmpDir("lake1b"), spark)
    replayBlobs(lakeA, 1)
    val lakeB = new LakeTable(TestSpark.tmpDir("lake7b"), spark)
    replayBlobs(lakeB, 7)
    assert(lakeState(lakeA) == oracle)
    assert(lakeState(lakeB) == oracle)
  }

  test("replay is idempotent: re-applying committed batches is a no-op") {
    val lake = new LakeTable(TestSpark.tmpDir("lakeidem"), spark)
    replayBlobs(lake, 3)
    val vBefore = lake.currentVersion.get
    replayBlobs(lake, 3) // same batchIds + same offsets → fenced no-ops
    assert(lake.currentVersion.get == vBefore)
    assert(lakeState(lake) == oracle)
  }

  test("resume mid-stream: a second applier re-running from batch 0 loses/dups nothing") {
    val dir = TestSpark.tmpDir("lakeresume")
    val lake1 = new LakeTable(dir, spark)
    val blobs = ChangeLogGen.blobs(spark, N, Seed).cache()
    val half = (N / 100) / 2
    CdcPipeline.processBlobs(spark, blobs.filter($"blob_id" < half).select($"blob").as[String],
      lake1, "r-0")
    // "crash"; new process picks up the same table root and replays all
    // batches with fresh batch ids — offsets fence must drop the prefix:
    val lake2 = new LakeTable(dir, spark)
    CdcPipeline.processBlobs(spark, blobs.filter($"blob_id" < half).select($"blob").as[String],
      lake2, "r-0b")
    CdcPipeline.processBlobs(spark, blobs.filter($"blob_id" >= half).select($"blob").as[String],
      lake2, "r-1")
    blobs.unpersist()
    assert(lakeState(lake2) == oracle)
  }

  test("orphan data files (crash between write and commit) are invisible") {
    val dir = TestSpark.tmpDir("lakeorphan")
    val lake = new LakeTable(dir, spark)
    replayBlobs(lake, 2)
    // simulate a crashed writer that left data files but no manifest:
    val orphan = java.nio.file.Paths.get(dir, "data", "orphan-00000-dead.parquet")
    Seq(("zzz-repo", "zzz", "c", "scala", "junk", 1L)).toDF(
      "repo", "path", "commit", "lang", "content", "seq")
      .coalesce(1).write.mode("overwrite").parquet(TestSpark.tmpDir("orphansrc"))
    java.nio.file.Files.writeString(orphan, "not even parquet")
    assert(lakeState(lake) == oracle) // manifest-driven read ignores it
  }

  test("deletes drop keys whose last event is DELETE") {
    val lake = new LakeTable(TestSpark.tmpDir("lakedel"), spark)
    replayBlobs(lake, 2)
    val lastOps = ChangeLogGen.events(spark, N, Seed)
      .filter(lower($"source") === "app.change.log")
      .groupBy($"repo", $"path")
      .agg(max_by($"op", struct($"seq", $"commit")).as("op"))
    val deleted = lastOps.filter($"op" === "DELETE").count()
    assert(deleted > 0, "generator must produce some final-DELETE keys")
    val stateKeys = lake.read().select($"repo", $"path").as[(String, String)].collect().toSet
    val deletedKeys = lastOps.filter($"op" === "DELETE")
      .select($"repo", $"path").as[(String, String)].collect().toSet
    assert(stateKeys.intersect(deletedKeys).isEmpty)
  }

  test("salted LWW reduce ≡ plain LWW reduce") {
    val ev = ChangeLogGen.events(spark, 2000, Seed)
      .select("repo", "path", "commit", "lang", "content", "seq", "op", "part")
    val plain = ApplyRef.lwwReduce(ev).collect().map(_.toSeq).toSet
    val salted = CdcApplier.saltedLwwReduce(ev, 16).collect().map(_.toSeq).toSet
    assert(plain == salted)
  }

  test("time travel: earlier snapshot is still readable and smaller/equal") {
    val lake = new LakeTable(TestSpark.tmpDir("laketime"), spark)
    replayBlobs(lake, 3)
    val early = lake.read(Some(0L)).count()
    assert(early > 0 && lake.currentVersion.get >= 2)
    // v0 state must equal replaying only batch 0 — snapshot isolation:
    assert(early == lake.snapshot(0L).files.map(_.rows).sum)
    assert(lakeState(lake) == oracle)
  }

  test("quarantine: wrong-source and corrupt rows are routed, not dropped silently") {
    val blobs = ChangeLogGen.blobs(spark, 1000, Seed).select($"blob").as[String]
    val parsed = CdcPipeline.resolveVariants(CdcPipeline.decode(blobs))
    val (clean, dirty) = graft.validate.Validate.routeObserved(parsed)
    val cleanN = clean.count()
    val dirtyN = dirty.count()
    // every event, plus one corrupt row per generated garbage prefix
    val garbage = blobs.collect().map("GARBAGE".r.findAllIn(_).size).sum
    assert(garbage > 0)
    assert(cleanN + dirtyN == 1000 + garbage, s"clean=$cleanN dirty=$dirtyN garbage=$garbage")
    val reasons = dirty.select(explode($"errors")).as[String].collect()
    assert(reasons.contains("wrong_source"))
    assert(reasons.count(_ == "corrupt_json") == garbage)
  }

  test("schema evolution: promoted column appears, old rows read as null") {
    val lake = new LakeTable(TestSpark.tmpDir("lakeevo"), spark)
    val ev = ChangeLogGen.events(spark, 500, Seed)
    // batch 0: canonical shape only
    CdcPipeline.processEvents(spark,
      ev.filter($"seq" < 250), lake, "evo-0")
    assert(!lake.read().columns.contains("stars"))
    // batch 1: producer starts emitting a new payload column `stars`
    val withStars = ev.filter($"seq" >= 250)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq",
        (pmod($"seq", lit(50))).as("stars"))
    new CdcApplier(lake, spark).applyBatch(withStars, "evo-1")
    val out = lake.read()
    assert(out.columns.contains("stars"))
    val nulls = out.filter($"stars".isNull).count()
    val vals = out.filter($"stars".isNotNull).count()
    assert(nulls > 0 && vals > 0) // old rows null, new rows populated
  }

  test("merge-on-read replay ≡ oracle; stale events are inert; major compaction folds deletes") {
    val lake = new LakeTable(TestSpark.tmpDir("lakemor"), spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    val ev = ChangeLogGen.events(spark, N, Seed)
      .filter(lower($"source") === "app.change.log")
      .select("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    val q = N / 4
    (0 until 4).foreach { b =>
      val hi = if (b == 3) N else (b + 1) * q
      applier.applyBatch(ev.filter($"seq" >= b * q && $"seq" < hi), s"m-$b")
    }
    assert(lakeState(lake) == oracle)
    val snap = lake.currentSnapshot.get
    assert(snap.deleteFiles.nonEmpty, "MoR replay must produce delete files")
    // exact live count despite superseded versions still sitting in files
    assert(snap.lineage("rowsAfter") == lake.read().count())
    // idempotent replay: the offsets fence turns it into a no-op commit
    val vBefore = lake.currentVersion.get
    applier.applyBatch(ev.filter($"seq" >= 3 * q), "m-3")
    assert(lake.currentVersion.get == vBefore)
    // OUT-OF-ORDER protection (the MoR-specific hazard — a write-blind
    // MoR sink would resurrect): a stale event from a fresh source
    // partition (so the offsets fence cannot drop it) must lose to the
    // newer base version at merge time and write nothing visible
    val lastOps = ChangeLogGen.events(spark, N, Seed)
      .filter(lower($"source") === "app.change.log")
      .groupBy($"repo", $"path")
      .agg(max_by($"op", struct($"seq", $"commit")).as("op"))
    val deadKey = lastOps.filter($"op" === "DELETE")
      .select($"repo", $"path").as[(String, String)].head()
    val liveKey = lastOps.filter($"op" =!= "DELETE")
      .select($"repo", $"path").as[(String, String)].head()
    val stale = Seq(
      ("UPDATE", "late-part", deadKey._1, deadKey._2, "c-stale-a", "scala", "resurrect?", 0L),
      ("UPDATE", "late-part", liveKey._1, liveKey._2, "c-stale-b", "scala", "shadow?", 0L))
      .toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    applier.applyBatch(stale, "m-stale")
    assert(lakeState(lake) == oracle, "stale events must neither resurrect nor shadow")
    // major compaction: resolved rewrite, all delete files folded, state intact
    lake.compact(minRows = Long.MaxValue)
    val after = lake.currentSnapshot.get
    assert(after.deleteFiles.isEmpty)
    assert(lakeState(lake) == oracle)
    assert(after.lineage("rowsAfter") == lake.read().count())
  }

  test("merge-on-read: sparse batch writes a fraction of copy-on-write bytes, same state") {
    def addedBytes(lake: LakeTable): Long = {
      val v = lake.currentVersion.get
      val prev = lake.snapshot(v - 1).files.map(_.path).toSet
      lake.snapshot(v).files.filterNot(f => prev(f.path))
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(lake.root, f.path)))
        .sum
    }
    // content must be INCOMPRESSIBLE (md5 chains) — an RLE-friendly
    // filler would make the CoW rewrite spuriously cheap on disk
    val seed = (0 until 2000).map { i =>
      val body = Iterator.iterate(s"s$i")(x =>
        java.security.MessageDigest.getInstance("MD5").digest(x.getBytes)
          .map("%02x".format(_)).mkString).drop(1).take(8).mkString
      ("UPDATE", (i % 4).toString, f"wr-repo${i % 40}%02d", s"p${i % 50}", s"c$i",
        "scala", body, i.toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    // 5 updates to EXISTING keys (rows 0,7,...,28 of the seed) — the
    // sparse-drizzle shape whose CoW rewrite cost MoR exists to bound
    val sparse = (0 until 5).map { i =>
      ("UPDATE", "0", f"wr-repo${(i * 7) % 40}%02d", s"p${(i * 7) % 50}", s"cs$i",
        "scala", s"new-$i", (10000 + i).toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    val cow = new LakeTable(TestSpark.tmpDir("lakewampc"), spark)
    val cowApp = new CdcApplier(cow, spark)
    cowApp.applyBatch(seed, "w-0"); cowApp.applyBatch(sparse, "w-1")
    val cowBytes = addedBytes(cow)
    val mor = new LakeTable(TestSpark.tmpDir("lakewampm"), spark)
    new CdcApplier(mor, spark).applyBatch(seed, "w-0") // identical CoW seed
    new CdcApplier(mor, spark, mergeOnRead = true).applyBatch(sparse, "w-1")
    val morBytes = addedBytes(mor)
    assert(morBytes * 3 <= cowBytes,
      s"MoR sparse batch wrote $morBytes B vs CoW $cowBytes B")
    val st = (l: LakeTable) => l.read()
      .select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    assert(st(mor) == st(cow))
  }

  /** One canonical event per (op, key, seq): repo `pin-<key>`, one path. */
  private def pinRows(evs: (Option[String], String, Long)*) = evs.map { case (op, key, seq) =>
    (op, "0", s"pin-$key", "p", s"c$key$seq", "scala", s"body-$key-$seq", seq)
  }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")

  test("merge-on-read batch outputs: null-op, delete-over-live, update-over-tombstone, new key") {
    val lake = new LakeTable(TestSpark.tmpDir("lakemorpin"), spark)
    val app = new CdcApplier(lake, spark, mergeOnRead = true)
    val up = Some("UPDATE")
    app.applyBatch(pinRows((up, "null", 1L), (up, "del", 2L), (up, "tomb", 3L), (up, "keep", 4L)),
      "pin-0")
    app.applyBatch(pinRows((Some("DELETE"), "tomb", 10L)), "pin-1") // tombstone over live
    app.applyBatch(pinRows(
      (None, "null", 20L), // NULL-op winner over a live row: entry, no data row
      (Some("DELETE"), "del", 21L), // DELETE over a live row: a 'dlive' entry
      (up, "tomb", 22L), // update superseding the tombstone: data + 'dtomb' entry
      (up, "new", 23L)), "pin-2") // brand-new key: data row only
    val (before, after) = (lake.snapshot(lake.currentVersion.get - 1), lake.currentSnapshot.get)
    val added = after.files.filterNot(f => before.files.map(_.path).contains(f.path))
    def rowsOf(kind: String) = added.filter(_.kind == kind).map(_.rows).sum
    // data = {tomb, new}; entries = {null, del} live + {tomb} tombstone
    assert((rowsOf("data"), rowsOf("delete")) == (2L, 3L))
    // rowsAfter = live before (null, del, keep) + data − 'dlive' entries
    assert(before.liveRows == 3L && after.lineage("rowsAfter") == 3L)
    // the NULL-op winner deletes its key, so it counts as a delete
    assert((after.lineage("upserts"), after.lineage("deletes")) == (2L, 2L))
    assert(lake.read().select($"repo", $"seq").as[(String, Long)].collect().toSet ==
      Set(("pin-tomb", 22L), ("pin-new", 23L), ("pin-keep", 4L)))
  }

  test("copy-on-write null-op winner deletes its key and counts as a delete") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecownull"), spark)
    val app = new CdcApplier(lake, spark)
    app.applyBatch(pinRows((Some("UPDATE"), "null", 1L), (Some("UPDATE"), "keep", 2L)), "cn-0")
    app.applyBatch(pinRows((None, "null", 20L), (Some("UPDATE"), "new", 21L)), "cn-1")
    val after = lake.currentSnapshot.get
    assert((after.lineage("upserts"), after.lineage("deletes")) == (1L, 1L))
    assert(after.lineage("rowsAfter") == 2L)
    assert(lake.read().select($"repo", $"seq").as[(String, Long)].collect().toSet ==
      Set(("pin-keep", 2L), ("pin-new", 21L)))
  }

  test("merge-on-read schema evolution: promoted column flows through the MoR merge") {
    val lake = new LakeTable(TestSpark.tmpDir("lakemorevo"), spark)
    val morApp = new CdcApplier(lake, spark, mergeOnRead = true)
    def rows(ids: Range, seqBase: Long) = ids.map { i =>
      ("UPDATE", "0", f"me-repo$i%03d", "p", s"c$seqBase-$i", "scala", s"body-$i",
        seqBase + i)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    morApp.applyBatch(rows(0 until 40, 0), "me-0")
    // batch 1 promotes `stars` AND updates 10 existing keys via MoR
    val withStars = rows(0 until 10, 1000)
      .unionByName(rows(40 until 60, 1000))
      .withColumn("stars", pmod($"seq", lit(7)))
    morApp.applyBatch(withStars, "me-1")
    val out = lake.read()
    assert(out.columns.contains("stars"))
    val byRepo = out.select($"repo", $"seq", $"stars").collect()
      .map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(byRepo.size == 60)
    (0 until 10).foreach { i => // updated via MoR: new seq, stars populated
      assert(byRepo(f"me-repo$i%03d") == (1000L + i, (1000L + i) % 7))
    }
    (10 until 40).foreach { i => // untouched old rows: stars null
      assert(byRepo(f"me-repo$i%03d") == (i.toLong, -1L))
    }
    (40 until 60).foreach { i => // fresh keys with stars
      assert(byRepo(f"me-repo$i%03d") == (1000L + i, (1000L + i) % 7))
    }
  }

  test("rename evolution: old files, late producers, chains, time travel, compaction") {
    val lake = new LakeTable(TestSpark.tmpDir("lakern"), spark)
    val applier = new CdcApplier(lake, spark)
    def rows(ids: Range, part: String, valName: String, v: Int => Long) =
      ids.map { i =>
        ("UPDATE", part, f"rn-repo$i%03d", "p", s"c-$part-$i", "scala", s"body-$i",
          (part.hashCode.abs % 1000) * 1000L + i, v(i))
      }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq", valName)
    // era 1: promote `stars`
    applier.applyBatch(rows(0 until 50, "a", "stars", i => i.toLong), "rn-0")
    val v0 = lake.currentVersion.get
    // rename stars → rating: metadata-only, old files keep the physical name
    lake.renameColumn("stars", "rating")
    assert(lake.read().columns.contains("rating") && !lake.read().columns.contains("stars"))
    // era 2: producers emit the new name
    applier.applyBatch(rows(50 until 100, "b", "rating", i => 1000L + i), "rn-1")
    // era 3: a LATE producer still emits `stars` — folded into `rating`,
    // NOT re-promoted as a fresh column; updates 10 era-1 keys
    applier.applyBatch(rows(0 until 10, "zlate", "stars", i => 500L + i), "rn-2")
    def ratingsOf(df: org.apache.spark.sql.DataFrame, name: String): Map[String, Long] =
      df.select($"repo", col(name)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = ((0 until 10).map(i => f"rn-repo$i%03d" -> (500L + i)) ++
      (10 until 50).map(i => f"rn-repo$i%03d" -> i.toLong) ++
      (50 until 100).map(i => f"rn-repo$i%03d" -> (1000L + i))).toMap
    assert(!lake.read().columns.contains("stars"))
    assert(ratingsOf(lake.read(), "rating") == expect)
    // chained rename rating → score: era-1 files (physical `stars`) and
    // era-2/3 files (physical `rating`) must BOTH map to `score`
    lake.renameColumn("rating", "score")
    assert(ratingsOf(lake.read(), "score") == expect)
    // time travel: the pre-rename snapshot still reads under its own schema
    assert(lake.read(Some(v0)).columns.contains("stars"))
    assert(ratingsOf(lake.read(Some(v0)), "stars") ==
      (0 until 50).map(i => f"rn-repo$i%03d" -> i.toLong).toMap)
    // compaction materializes the current name; the mapping becomes inert
    lake.compact(minRows = Long.MaxValue)
    assert(ratingsOf(lake.read(), "score") == expect)
  }

  test("rename into a retired name is refused; the retired name's files keep their values") {
    val lake = new LakeTable(TestSpark.tmpDir("lakeretired"), spark)
    val rows = (0 until 20).map { i =>
      ("UPDATE", "a", f"rt-repo$i%03d", "p", s"c-$i", "scala", s"body-$i", i.toLong, i * 10L, i * 100L)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq", "a", "c")
    new CdcApplier(lake, spark).applyBatch(rows, "rt-0")
    lake.renameColumn("a", "b")
    val err = intercept[IllegalArgumentException](lake.renameColumn("c", "a"))
    assert(err.getMessage.contains("retired"))
    // nothing was committed: `b` still reads the pre-rename files' `a`
    // values and `c` keeps its own
    val back = lake.read()
    assert(!back.columns.contains("a"))
    assert(back.select($"repo", $"b", $"c").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap ==
      (0 until 20).map(i => f"rt-repo$i%03d" -> (i * 10L, i * 100L)).toMap)
  }

  test("a manifest holding a rename back (a→b then b→a) still reads") {
    // renameColumn once accepted a retired target; a→b then b→a left
    // {a→a, b→a} in the manifest, which reads must still resolve
    val root = TestSpark.tmpDir("lakerenameback")
    val lake = new LakeTable(root, spark)
    val applier = new CdcApplier(lake, spark)
    def rows(ids: Range, name: String): DataFrame = ids.map { i =>
      ("UPDATE", "a", f"rb-repo$i%03d", "p", s"c-$i", "scala", s"body-$i", i.toLong, i * 10L)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq", name)
    applier.applyBatch(rows(0 until 10, "a"), "rb-0")
    lake.renameColumn("a", "b")
    applier.applyBatch(rows(10 until 20, "b"), "rb-1")
    // rewrite the head manifest as the rename back left it
    val path = java.nio.file.Paths.get(root, "meta", s"v${lake.currentVersion.get}.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = mapper.readValue(path.toFile, classOf[java.util.LinkedHashMap[String, Object]])
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.get("schema").asInstanceOf[String])
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    m.put("schema", org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      if (f.name == "b") f.copy(name = "a") else f)).json)
    m.put("renames", java.util.Map.of("a", "a", "b", "a"))
    java.nio.file.Files.writeString(path, mapper.writeValueAsString(m))
    val back = new LakeTable(root, spark).read()
    assert(back.columns.count(_ == "a") == 1 && !back.columns.contains("b"))
    assert(back.select($"repo", $"a").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      (0 until 20).map(i => f"rb-repo$i%03d" -> i * 10L).toMap)
  }

  test("lineage counters are recorded per commit") {
    val lake = new LakeTable(TestSpark.tmpDir("lakelin"), spark)
    replayBlobs(lake, 2)
    val lin = lake.currentSnapshot.get.lineage
    assert(lin("rowsAfter") > 0 && lin("upserts") > 0 && lin("deletes") > 0)
    assert(lin("rowsAfter") == lake.read().count())
  }

  test("change feed ≡ brute-force state diff; CoW ≡ MoR; maintenance commits are silent") {
    def build(mor: Boolean): LakeTable = {
      val lake = new LakeTable(TestSpark.tmpDir(s"lakecdf$mor"), spark)
      val app = new CdcApplier(lake, spark, mergeOnRead = mor)
      val ev = ChangeLogGen.events(spark, 3000, 11L)
        .filter(lower($"source") === "app.change.log")
        .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")
      app.applyBatch(ev.filter($"seq" <= 1500), "cdf-0")
      app.applyBatch(ev.filter($"seq" > 1500), "cdf-1")
      lake
    }
    def feedSet(lake: LakeTable, a: Long, b: Long) =
      lake.changeFeed(a, b)
        .select($"repo", $"path", $"change_type", $"before.seq", $"after.seq")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val cow = build(mor = false)
    val mor = build(mor = true)
    def stateMap(lake: LakeTable, v: Long) =
      lake.read(Some(v)).select($"repo", $"path", $"seq").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val s0 = stateMap(cow, 0L)
    val s1 = stateMap(cow, 1L)
    val brute: Set[(String, String, String, Long, Long)] =
      (s0.keySet ++ s1.keySet).flatMap { k =>
        (s0.get(k), s1.get(k)) match {
          case (None, Some(af)) => Some((k._1, k._2, "insert", -1L, af))
          case (Some(bf), None) => Some((k._1, k._2, "delete", bf, -1L))
          case (Some(bf), Some(af)) if bf != af => Some((k._1, k._2, "update", bf, af))
          case _ => None
        }
      }
    val cowFeed = feedSet(cow, 0L, 1L)
    assert(cowFeed == brute)
    assert(Seq("insert", "update", "delete").forall(t => cowFeed.exists(_._3 == t)),
      "fixture must exercise all three change types")
    // merge-on-read expresses the same interval via shared base files +
    // added winners + delete entries — the feed must not notice
    assert(feedSet(mor, 0L, 1L) == brute)
    // maintenance rewrites physical files without changing logical state:
    // its keys enter the candidate set and must ALL fall out
    mor.consolidateDeletes()
    mor.compact(minRows = Long.MaxValue)
    val vm = mor.currentVersion.get
    assert(vm > 1L, "maintenance must have committed")
    assert(feedSet(mor, 1L, vm).isEmpty, "maintenance-only interval must be silent")
    assert(feedSet(mor, 0L, vm) == brute, "feed across maintenance must still see the real changes")
  }

  test("change feed scans only files overlapping the churn band, not the table") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecdfprune"), spark)
    val app = new CdcApplier(lake, spark, clusterPartitions = 8)
    def rows(n: Int, tag: String, seqBase: Long, repoOf: Int => String) =
      (0 until n).map { i =>
        ("UPDATE", (i % 4).toString, repoOf(i), s"p${i % 50}",
          s"c$tag$i", "scala", s"content-$tag-$i", seqBase + i)
      }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    app.applyBatch(rows(4000, "a", 0, i => f"cd-repo${(i * 131) % 400}%03d"), "cdp-0")
    val v0 = lake.currentVersion.get
    val v0Paths = lake.snapshot(v0).dataFiles.map(_.path).toSet
    assert(v0Paths.size >= 6, s"need several base files, got ${v0Paths.size}")
    // churn confined to a 5% repo band
    app.applyBatch(rows(200, "b", 100000L, i => f"cd-repo${i % 20}%03d"), "cdp-1")
    val feed = lake.changeFeed(v0, lake.currentVersion.get)
    assert(feed.count() > 0)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scanFiles(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case q: QueryStageExec => scanFiles(q.plan)
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
      case other => (other.children ++ other.subqueries).flatMap(scanFiles)
    }
    val opened = scanFiles(feed.queryExecution.executedPlan)
      .map(f => f.substring(f.indexOf("data/"))).toSet
    val v0Opened = (opened & v0Paths).size
    assert(v0Opened >= 1 && v0Opened < v0Paths.size,
      s"before-state read must stay inside the band: opened $v0Opened of ${v0Paths.size}")
  }

  test("flagship entry query (the CDC replay on the smallest fixture) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
