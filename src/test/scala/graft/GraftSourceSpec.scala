package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.apply.CdcApplier
import graft.gen.ChangeLogGen
import graft.lake.LakeTable

/** The `format("graft")` data source: bound (vectorized parquet) scans
  * with manifest-driven planning-time file pruning, the resolving
  * fallback for merge-on-read / renamed snapshots, time travel, and the
  * SQL face. */
class GraftSourceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canonical(n: Long, seed: Long): DataFrame =
    ChangeLogGen.events(spark, n, seed)
      .filter(lower($"source") === "app.change.log")
      .select($"op", $"part", $"repo", $"path", $"commit", $"lang", $"content", $"seq")

  /** CoW-shaped lake (no delete files) with a PRUNABLE file layout: two
    * append commits (low-seq half, high-seq half), each range-clustered
    * into two files — so both repo ranges and seq ranges genuinely
    * differ per file. (The applier's MERGE at this toy scale folds
    * everything into one AQE-sized file, which would leave nothing to
    * prune — pruning itself is what this suite tests.) */
  private lazy val cowLake: LakeTable = {
    val lake = new LakeTable(TestSpark.tmpDir("srccow"), spark)
    val ev = canonical(4000, 11L)
      .select($"repo", $"path", $"commit", $"lang", $"content", $"seq")
    val mx = ev.agg(max($"seq")).head().getLong(0)
    val lo = ev.filter($"seq" <= mx / 2)
    val hi = ev.filter($"seq" > mx / 2)
    val f1 = lake.writeDataFiles(
      lo.repartitionByRange(2, col("repo"), col("path")), "src-lo")
    lake.commit("src-0", Map("p0" -> mx / 2), ev.schema, Nil, f1, lake.currentSnapshot)
    val f2 = lake.writeDataFiles(
      hi.repartitionByRange(2, col("repo"), col("path")), "src-hi")
    lake.commit("src-1", Map("p0" -> mx), ev.schema, Nil, f2, lake.currentSnapshot)
    lake
  }
  private lazy val cowMid: Long = {
    val ev = canonical(4000, 11L)
    ev.agg(max($"seq")).head().getLong(0) / 2
  }

  private def readGraft(root: String): DataFrame =
    spark.read.format("graft").load(root)

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect() // force execution so adaptive plans are final
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // AQE stage subtrees are NOT in .children — descend explicitly
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(walk) ++
        other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select($"repo", $"path", $"commit", $"lang", $"seq")
      .collect().map(_.toString).sorted.toSeq

  test("bound scan matches the engine read and binds to FileSourceScanExec") {
    val viaSource = readGraft(cowLake.root)
    assert(scans(viaSource).nonEmpty, "no-delete snapshot must bind to the file scan")
    assert(sortedRows(viaSource) == sortedRows(cowLake.read()))
  }

  test("repo equality prunes files at planning time and reaches parquet pushdown") {
    val snap = cowLake.currentSnapshot.get
    val total = snap.dataFiles.size
    assert(total >= 2, s"need multiple files to show pruning, got $total")
    // the MINIMUM repo: deterministically inside the first file of each
    // commit and outside the others (head() could land on a range
    // boundary shared by every file)
    val repo = cowLake.read().agg(min($"repo")).head().getString(0)
    val q = readGraft(cowLake.root).filter($"repo" === repo)
    val scan = scans(q).head
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles < total,
      s"manifest pruning must skip files: scanned $numFiles of $total")
    assert(scan.toString.contains("PushedFilters") &&
      scan.toString.contains("EqualTo(repo,"),
      "repo predicate must also push into the parquet scan")
    assert(sortedRows(q) == sortedRows(cowLake.read().filter($"repo" === repo)))
  }

  test("seq watermark filter prunes files via manifest seq stats (readSince in SQL)") {
    val snap = cowLake.currentSnapshot.get
    val total = snap.dataFiles.size
    // watermark between the two commits: files fully below it drop out
    val w = cowMid
    val q = readGraft(cowLake.root).filter($"seq" > w)
    val scan = scans(q).head
    assert(scan.metrics("numFiles").value < total,
      "files whose maxSeq <= watermark must be pruned at planning time")
    val (engineFeed, _, _) = cowLake.readSince(w)
    assert(sortedRows(q) == sortedRows(engineFeed))
  }

  test("file pruning ≡ brute force over the file's range: comparisons both ways, IN, InSet, AND, OR on repo and seq") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BindReferences, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val lake = new LakeTable(TestSpark.tmpDir("prunetable"), spark)
    val f = lake.FileEntry("data/x.parquet", 1L, "c", "g", 10L, 20L, bytes = 1L)
    val repo = AttributeReference("repo", StringType)()
    val seq = AttributeReference("seq", LongType)()
    // every value the file may hold (for strings: the bounds and every
    // literal inside them, which decides each single comparison exactly)
    val fileRows = for (r <- Seq("c", "e", "g"); s <- 10L to 20L)
      yield InternalRow(UTF8String.fromString(r), s)
    // literals below, at the min edge, inside, at the max edge, above
    val repoLits = Seq("a", "c", "e", "g", "i").map(Literal(_))
    val seqLits = Seq(5L, 10L, 15L, 20L, 25L).map(Literal(_))
    val cmps: Seq[(Expression, Expression) => Expression] = Seq(EqualTo(_, _),
      GreaterThan(_, _), GreaterThanOrEqual(_, _), LessThan(_, _), LessThanOrEqual(_, _))
    def compared(a: Expression, lits: Seq[Literal]): Seq[Expression] =
      for (c <- cmps; v <- lits; e <- Seq(c(a, v), c(v, a))) yield e
    def utf(s: String*): Set[Any] = s.map(UTF8String.fromString).toSet
    val repoPreds = compared(repo, repoLits) ++ Seq(
      In(repo, Seq(Literal("a"), Literal("i"))), In(repo, Seq(Literal("a"), Literal("e"))),
      InSet(repo, utf("b", "h")), InSet(repo, utf("g")))
    val seqPreds = compared(seq, seqLits) ++ Seq(
      In(seq, Seq(Literal(1L), Literal(30L))), In(seq, Seq(Literal(1L), Literal(20L))),
      InSet(seq, Set(4L, 26L)), InSet(seq, Set(12L)))
    // conjunctions and disjunctions across the two columns: the file is a
    // product of two ranges, so per-side answers combine exactly
    val cases = repoPreds ++ seqPreds ++
      (for (r <- repoPreds; s <- seqPreds; e <- Seq(And(r, s), Or(s, r))) yield e)
    val wrong = cases.filter { e =>
      val bound = BindReferences.bindReference(e, Seq(repo, seq))
      val someRowMatches = fileRows.exists(row => bound.eval(row) == true)
      GraftPruning.mayMatchCatalyst(e, f) != someRowMatches
    }
    assert(cases.size > 1000)
    assert(wrong.size == 0, s"of ${cases.size} cases disagree, e.g. ${wrong.take(3)}")
  }

  test("column pruning reaches the scan's ReadSchema") {
    val q = readGraft(cowLake.root).select($"repo", $"seq")
    val scan = scans(q).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("repo", "seq"))
  }

  test("merge-on-read snapshot plans a COLUMNAR scan (extension rule) and matches; compaction keeps the fast path") {
    val lake = new LakeTable(TestSpark.tmpDir("srcmor"), spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    val ev = canonical(3000, 13L)
    val mx = ev.agg(max($"seq")).head().getLong(0)
    applier.applyBatch(ev.filter($"seq" <= mx / 2), "mor-0")
    applier.applyBatch(ev.filter($"seq" > mx / 2), "mor-1")
    assert(lake.currentSnapshot.get.deleteFiles.nonEmpty, "MoR replay must leave delete files")
    // with GraftExtensions installed (TestSpark session), the resolving
    // relation is substituted during analysis by the engine's Catalyst
    // plan: vectorized parquet scans + the delete-resolution join — no
    // RDD[Row] bridge node anywhere in the executed plan
    val viaSource = readGraft(lake.root)
    assert(scans(viaSource).nonEmpty,
      "MoR read must plan columnar parquet scans under the extension rule")
    def rddScans(df: DataFrame): Seq[SparkPlan] = {
      df.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case s: org.apache.spark.sql.execution.RDDScanExec => Seq(s)
        case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    assert(rddScans(readGraft(lake.root)).isEmpty,
      "no V1 row-bridge node may remain in the MoR read plan")
    assert(sortedRows(viaSource) == sortedRows(lake.read()))
    // filters still correct (and pushed into the substituted plan)
    val repo = lake.read().select($"repo").head().getString(0)
    assert(sortedRows(readGraft(lake.root).filter($"repo" === repo)) ==
      sortedRows(lake.read().filter($"repo" === repo)))
    // major compaction folds the deletes → a FRESH relation binds the
    // plain bound path again (no join above the scan)
    lake.compact(minRows = Long.MaxValue)
    val after = readGraft(lake.root)
    assert(scans(after).nonEmpty, "compacted snapshot must rebind to the file scan")
    assert(sortedRows(after) == sortedRows(lake.read()))
  }

  test("versionAsOf reads the historical snapshot") {
    val v0 = cowLake.versions.find(v => cowLake.snapshot(v).batchId == "src-0").get
    val viaSource = spark.read.format("graft")
      .option("versionAsOf", v0.toString).load(cowLake.root)
    assert(sortedRows(viaSource) == sortedRows(cowLake.read(Some(v0))))
  }

  test("rename mapping routes through the resolving scan and maps old files") {
    val lake = new LakeTable(TestSpark.tmpDir("srcren"), spark)
    val applier = new CdcApplier(lake, spark)
    applier.applyBatch(canonical(1500, 17L), "ren-0")
    lake.renameColumn("lang", "language")
    val viaSource = readGraft(lake.root)
    assert(scans(viaSource.select($"language")).nonEmpty,
      "renamed snapshot must still plan columnar scans under the extension rule")
    assert(viaSource.columns.contains("language") && !viaSource.columns.contains("lang"))
    assert(viaSource.filter($"language".isNotNull).count() ==
      lake.read().filter($"language".isNotNull).count())
    assert(sortedRowsRenamed(viaSource) == sortedRowsRenamed(lake.read()))
  }

  private def sortedRowsRenamed(df: DataFrame): Seq[String] =
    df.select($"repo", $"path", $"commit", $"language", $"seq")
      .collect().map(_.toString).sorted.toSeq

  test("SQL face: CREATE TEMPORARY VIEW ... USING graft") {
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_src_view
         |USING graft OPTIONS (path '${cowLake.root}')""".stripMargin)
    val viaSql = spark.sql("SELECT repo, count(*) AS n FROM graft_src_view GROUP BY repo")
    val expected = cowLake.read().groupBy($"repo").agg(count(lit(1)).as("n"))
    assert(viaSql.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq)
    spark.sql("DROP VIEW graft_src_view")
  }

  test("write path: append commits transactionally, unions schema, reads back") {
    val root = TestSpark.tmpDir("srcwrite")
    val a = Seq(("r1", "p1", 1L, "x"), ("r2", "p2", 2L, "y"))
      .toDF("repo", "path", "seq", "content")
    a.write.format("graft").save(root)
    // second append carries an ADDITIVE column; old rows resolve it null
    val b = Seq(("r3", "p3", 3L, "z", "extra"))
      .toDF("repo", "path", "seq", "content", "note")
    b.write.format("graft").mode("append").save(root)
    val back = readGraft(root)
    assert(back.count() == 3)
    assert(back.columns.contains("note"))
    assert(back.filter($"note".isNull).count() == 2)
    val lake = new LakeTable(root, spark)
    assert(lake.currentSnapshot.get.version == 1L, "each save is one commit")
    // manifest stats came through the write: repo pruning works on it
    val q = readGraft(root).filter($"repo" === "r3")
    assert(scans(q).head.metrics("numFiles").value <
      lake.currentSnapshot.get.dataFiles.size)
  }

  test("write path: an append under a retired name reads back under the current name") {
    val root = TestSpark.tmpDir("srcretired")
    Seq(("r1", "p1", 1L, 10L), ("r2", "p2", 2L, 20L)).toDF("repo", "path", "seq", "a")
      .write.format("graft").save(root)
    new LakeTable(root, spark).renameColumn("a", "b")
    // a late producer still writes the retired name `a`
    Seq(("r3", "p3", 3L, 30L)).toDF("repo", "path", "seq", "a")
      .write.format("graft").mode("append").save(root)
    val lake = new LakeTable(root, spark)
    assert(lake.currentSnapshot.get.schema.fieldNames.toSeq == Seq("repo", "path", "seq", "b"),
      "a retired name never becomes a column again")
    Seq(lake.read(), readGraft(root)).foreach { df =>
      assert(df.columns.toSeq == Seq("repo", "path", "seq", "b"))
      assert(df.select($"repo", $"b").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("r1" -> 10L, "r2" -> 20L, "r3" -> 30L))
    }
  }

  test("a read of a missing root returns the empty engine-schema frame and creates nothing") {
    val missing = java.nio.file.Paths.get(TestSpark.tmpDir("srcmissing"), "no-table")
    val df = spark.read.format("graft").load(missing.toString)
    assert(df.collect().isEmpty)
    assert(df.schema == graft.core.Model.lakeSchemaV1)
    assert(new LakeTable(missing.toString, spark).versions.isEmpty)
    assert(!java.nio.file.Files.exists(missing), "a read must not create the table")
  }

  test("write path: overwrite replaces data and schema; batchId makes saves idempotent") {
    val root = TestSpark.tmpDir("srcow")
    Seq(("r1", "p1", 1L)).toDF("repo", "path", "seq")
      .write.format("graft").save(root)
    Seq(("r9", "p9", 9L)).toDF("repo", "path", "seq")
      .write.format("graft").mode("overwrite").save(root)
    assert(readGraft(root).select($"repo").collect().map(_.getString(0)).toSeq == Seq("r9"))
    // idempotent retry: same batchId appends once
    val c = Seq(("r5", "p5", 5L)).toDF("repo", "path", "seq")
    c.write.format("graft").mode("append").option("batchId", "job-7").save(root)
    c.write.format("graft").mode("append").option("batchId", "job-7").save(root)
    assert(readGraft(root).count() == 2)
    // ErrorIfExists refuses a non-empty table; Ignore is a no-op
    intercept[IllegalStateException] {
      c.write.format("graft").mode("errorifexists").save(root)
    }
    c.write.format("graft").mode("ignore").save(root)
    assert(readGraft(root).count() == 2)
    // sticky fence: persisted in the manifest's untrimmed saved map
    val d = Seq(("r6", "p6", 6L)).toDF("repo", "path", "seq")
    d.write.format("graft").mode("append").option("batchId", "job-8")
      .option("stickyBatchId", "true").save(root)
    d.write.format("graft").mode("append").option("batchId", "job-8")
      .option("stickyBatchId", "true").save(root)
    assert(readGraft(root).count() == 3)
    assert(new LakeTable(root, spark).currentSnapshot.get.saved.contains("job-8"))
  }

  private def awaitAndStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination(120000)
    if (q.isActive) { q.stop(); q.awaitTermination() }
  }

  test("streaming source: drain delivers the table, checkpoint restart delivers only new changes") {
    import org.apache.spark.sql.streaming.Trigger
    val root = TestSpark.tmpDir("srcstream")
    val ck = TestSpark.tmpDir("srcstream-ck")
    val lake = new LakeTable(root, spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    val ev = canonical(3000, 19L)
    val mx = ev.agg(max($"seq")).head().getLong(0)
    applier.applyBatch(ev.filter($"seq" <= mx / 2), "st-0")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select($"repo", $"path", $"seq").collect()
            .foreach(r => got.add((r.getString(0), r.getString(1), r.getLong(2))))
          ()
        }.start()
      awaitAndStop(q)
    }
    // first drain = the whole current table state (MoR deletes resolved)
    drain()
    def tableNow: Set[(String, String, Long)] = lake.read()
      .select($"repo", $"path", $"seq").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val afterB0 = tableNow
    assert(got.toArray.toSet == afterB0.map(_.asInstanceOf[Any]))
    // second batch lands; a restart from the SAME checkpoint must deliver
    // exactly the rows whose winning seq advanced — never re-deliver b0
    got.clear()
    applier.applyBatch(ev.filter($"seq" > mx / 2), "st-1")
    drain()
    val w0 = afterB0.map(_._3).max
    val expected = tableNow.filter(_._3 > w0)
    assert(expected.nonEmpty)
    assert(got.toArray.toSet == expected.map(_.asInstanceOf[Any]))
    // maintenance-only commit advances the version but delivers nothing
    got.clear()
    lake.compact(minRows = Long.MaxValue)
    drain()
    assert(got.isEmpty, "compaction must stream as an empty batch, not re-delivery")
  }

  test("plain streaming mode delivers rows from a lagging source partition") {
    import org.apache.spark.sql.streaming.Trigger
    // the applier's delivery contract is per-SOURCE-PARTITION monotone
    // seq: partitions may lag each other, so a batch committed after v1
    // from a lagging partition legitimately carries seqs BELOW the
    // leader partition's v1 maximum. A global-seq watermark would skip
    // those rows forever; the snapshot-diff batch must deliver them.
    val root = TestSpark.tmpDir("srclag")
    val ck = TestSpark.tmpDir("srclag-ck")
    val lake = new LakeTable(root, spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    def ev(part: String, repo: String, path: String, seq: Long) =
      (("UPDATE", part, repo, path, s"c$seq", "scala", s"content-$seq", seq))
    val cols = Seq("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    // leader partition p0 races ahead to seq 1000
    applier.applyBatch(
      Seq(ev("p0", "rA", "f1", 900L), ev("p0", "rB", "f2", 1000L))
        .toDF(cols: _*), "lag-0")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select($"repo", $"path", $"seq").collect()
            .foreach(r => got.add((r.getString(0), r.getString(1), r.getLong(2))))
          ()
        }.start()
      awaitAndStop(q)
    }
    drain()
    assert(got.toArray.toSet ==
      Set(("rA", "f1", 900L), ("rB", "f2", 1000L)).map(_.asInstanceOf[Any]))
    // lagging partition p1 commits NEW KEYS with seqs below p0's max —
    // first-seen for their partition, so the applier accepts them
    got.clear()
    applier.applyBatch(
      Seq(ev("p1", "rC", "f3", 500L), ev("p1", "rD", "f4", 600L))
        .toDF(cols: _*), "lag-1")
    drain()
    assert(got.toArray.toSet ==
      Set(("rC", "f3", 500L), ("rD", "f4", 600L)).map(_.asInstanceOf[Any]),
      "rows from the lagging partition must be delivered, not skipped")
  }

  test("streaming CDF mode: deletions stream as delete rows with before images") {
    import org.apache.spark.sql.streaming.Trigger
    val root = TestSpark.tmpDir("srccdf")
    val ck = TestSpark.tmpDir("srccdf-ck")
    val lake = new LakeTable(root, spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    val ev = canonical(3000, 23L)
    val mx = ev.agg(max($"seq")).head().getLong(0)
    applier.applyBatch(ev.filter($"seq" <= mx / 2), "cdf-0")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, Any, Any)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("changeFeed", "true").load(root)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select($"repo", $"path", $"change_type",
            $"before.seq".as("bseq"), $"after.seq".as("aseq")).collect()
            .foreach(r => got.add((r.getString(0), r.getString(1), r.getString(2),
              r.get(3), r.get(4))))
          ()
        }.start()
      awaitAndStop(q)
    }
    // first drain: the whole table as inserts (no baseline version)
    drain()
    val snap0 = got.toArray.toSet
    assert(snap0.nonEmpty)
    assert(snap0.forall { case t: (_, _, _, _, _) =>
      t.asInstanceOf[(String, String, String, Any, Any)]._3 == "insert" })
    val v1 = lake.currentVersion.get
    // second batch includes DELETE ops → the incremental drain must carry
    // delete rows (before image, null after) — invisible to the plain mode
    got.clear()
    applier.applyBatch(ev.filter($"seq" > mx / 2), "cdf-1")
    val v2 = lake.currentVersion.get
    drain()
    val expected = lake.changeFeed(v1, v2)
      .select($"repo", $"path", $"change_type",
        $"before.seq".as("bseq"), $"after.seq".as("aseq")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.get(3), r.get(4)))
      .toSet
    assert(got.toArray.toSet == expected.map(_.asInstanceOf[Any]))
    val kinds = expected.map(_._3)
    assert(kinds.contains("delete"), "batch had DELETE ops; feed must surface them")
    assert(kinds.contains("update"))
  }

  test("streaming CDF mode: startingVersion pins the baseline, skipping the insert backfill") {
    import org.apache.spark.sql.streaming.Trigger
    val root = TestSpark.tmpDir("srccdfsv")
    val ck = TestSpark.tmpDir("srccdfsv-ck")
    val lake = new LakeTable(root, spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    val ev = canonical(2000, 29L)
    val mx = ev.agg(max($"seq")).head().getLong(0)
    applier.applyBatch(ev.filter($"seq" <= mx / 2), "sv-0")
    val v1 = lake.currentVersion.get
    applier.applyBatch(ev.filter($"seq" > mx / 2), "sv-1")
    val v2 = lake.currentVersion.get
    // a consumer that already holds version v1 must receive ONLY the
    // changes since it — never the table-as-inserts backfill
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").option("startingVersion", v1.toString)
      .load(root)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select($"repo", $"path", $"change_type").collect()
          .foreach(r => got.add((r.getString(0), r.getString(1), r.getString(2))))
        ()
      }.start()
    awaitAndStop(q)
    val expected = lake.changeFeed(v1, v2)
      .select($"repo", $"path", $"change_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got.toArray.toSet == expected.map(_.asInstanceOf[Any]))
    assert(!expected.exists(_._3 == "insert") ||
      expected.size < lake.read().count(),
      "baseline drain must not re-deliver the whole table")
  }

  test("SQL merge face: INSERT INTO a merge view performs a CDC upsert, state equals the applier's") {
    val root = TestSpark.tmpDir("srcmerge")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW merge_t
         |USING graft OPTIONS (path '$root', merge 'true', mergeOnRead 'true')"""
        .stripMargin)
    val ev = canonical(1200, 31L)
      .filter($"op" =!= "DELETE")
      .select($"repo", $"path", $"commit", $"lang", $"content", $"seq")
    val mx = ev.agg(max($"seq")).head().getLong(0)
    ev.createOrReplaceTempView("merge_src")
    spark.sql(s"INSERT INTO merge_t SELECT * FROM merge_src WHERE seq <= ${mx / 2}")
    spark.sql(s"INSERT INTO merge_t SELECT * FROM merge_src WHERE seq > ${mx / 2}")
    // reference: the same two batches through the applier API
    val refLake = new LakeTable(TestSpark.tmpDir("srcmerge-ref"), spark)
    val refApp = new CdcApplier(refLake, spark, mergeOnRead = true)
    val withMeta = ev.withColumn("op", lit("UPDATE")).withColumn("part", lit("sql"))
    refApp.applyBatch(withMeta.filter($"seq" <= mx / 2), "ref-0")
    refApp.applyBatch(withMeta.filter($"seq" > mx / 2), "ref-1")
    // the view observes its own writes (scan-time head resolution)
    val viaView = spark.sql("SELECT repo, path, commit, lang, seq FROM merge_t")
      .collect().map(_.toString).sorted.toSeq
    assert(viaView == sortedRows(refLake.read()))
    assert(viaView.nonEmpty)
    // a second LWW wave through SQL overrides: stale rows never resurface
    assert(new LakeTable(root, spark).read().count() == refLake.read().count())
    // INSERT OVERWRITE is refused
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE TABLE merge_t SELECT * FROM merge_src")
    }
    spark.sql("DROP VIEW merge_t")
    spark.sql("DROP VIEW merge_src")
  }

  test("a sink batchId containing '/' is refused before any write outside the root") {
    val parent = TestSpark.tmpDir("srclabel")
    val root = java.nio.file.Paths.get(parent, "lake").toString
    val victim = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(parent, "victim"))
    val sentinel = java.nio.file.Files.writeString(victim.resolve("sentinel"), "keep")
    val err = intercept[IllegalArgumentException] {
      Seq(("r1", "p1", 1L)).toDF("repo", "path", "seq").write.format("graft")
        .option("batchId", "a/../../victim").save(root)
    }
    assert(err.getMessage.contains("a/../../victim"))
    assert(java.nio.file.Files.readString(sentinel) == "keep")
  }

  /** The resolving relation `format("graft")` binds for `root`'s head. */
  private def resolvingRelation(root: String): GraftResolvingRelation =
    new GraftDataSource().createRelation(spark.sqlContext, Map("path" -> root))
      .asInstanceOf[GraftResolvingRelation]

  test("the resolving relation builds its plan once") {
    val lake = new LakeTable(TestSpark.tmpDir("srconce"), spark)
    val applier = new CdcApplier(lake, spark, mergeOnRead = true)
    val ev = canonical(1000, 37L)
    val mx = ev.agg(max($"seq")).head().getLong(0)
    applier.applyBatch(ev.filter($"seq" <= mx / 2), "once-0")
    applier.applyBatch(ev.filter($"seq" > mx / 2), "once-1")
    val rel = resolvingRelation(lake.root)
    assert(rel.resolvedPlan eq rel.resolvedPlan)
  }

  test("V1 buildScan (no extension rule) on merge-on-read and renamed snapshots matches a filtered engine read") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, StringContains}
    val mor = new LakeTable(TestSpark.tmpDir("srcv1mor"), spark)
    val morApp = new CdcApplier(mor, spark, mergeOnRead = true)
    val ev = canonical(2000, 41L)
    val mx = ev.agg(max($"seq")).head().getLong(0)
    morApp.applyBatch(ev.filter($"seq" <= mx / 2), "v1-0")
    morApp.applyBatch(ev.filter($"seq" > mx / 2), "v1-1")
    assert(mor.currentSnapshot.get.deleteFiles.nonEmpty)
    val ren = new LakeTable(TestSpark.tmpDir("srcv1ren"), spark)
    new CdcApplier(ren, spark).applyBatch(canonical(1500, 43L), "v1-r")
    ren.renameColumn("lang", "language")
    Seq(mor -> "lang", ren -> "language").foreach { case (lake, langCol) =>
      val cols = Array("repo", "path", "seq", langCol)
      val all = lake.read()
      val repo = all.agg(min($"repo")).head().getString(0)
      val w = all.agg(expr("percentile_approx(seq, 0.5)")).head().getLong(0)
      def viaBuildScan(filters: Filter*): Set[Seq[Any]] =
        resolvingRelation(lake.root).buildScan(cols, filters.toArray)
          .collect().map(_.toSeq).toSet
      def expected(df: DataFrame): Set[Seq[Any]] =
        df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSet
      val byRepo = expected(all.filter($"repo" === repo))
      assert(byRepo.nonEmpty)
      assert(viaBuildScan(EqualTo("repo", repo)) == byRepo)
      val bySeq = expected(all.filter($"seq" > w))
      assert(bySeq.nonEmpty && bySeq.size < expected(all).size)
      assert(viaBuildScan(GreaterThan("seq", w)) == bySeq)
      // an untranslatable filter narrows nothing here (Spark re-applies
      // every filter above the relation) and never drops rows
      assert(viaBuildScan(StringContains("path", "1")) == expected(all))
      assert(viaBuildScan(EqualTo("repo", repo), StringContains("path", "1")) == byRepo)
    }
  }

  test("empty table root yields an empty relation under the engine schema") {
    val lake = new LakeTable(TestSpark.tmpDir("srcempty"), spark)
    val df = readGraft(lake.root)
    assert(df.count() == 0)
    assert(df.columns.contains("repo"))
  }
}
