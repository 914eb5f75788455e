package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApplier
import graft.lake.LakeTable
import graft.reference.ApplyRef

/** The small-batch shape of the apply path: the offsets fence is an
  * expression (no join, no exchange), and a merge input of at most
  * [[LakeTable.SmallWriteRows]] rows is gathered into one partition — a
  * small merge-on-read batch runs as two Spark jobs. Above the bound the
  * exchange path (merge-on-read: with the semi-join) still runs in both
  * merge modes and still matches the oracle. */
class SmallBatchSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsOf

  /** Canonical events `(op, repo index, path index, seq)` on part "0". */
  private def events(evs: Seq[(String, Int, Int, Long)]): DataFrame = evs.map {
    case (op, r, p, seq) =>
      (op, "0", f"sb-repo$r%03d", s"p$p", s"c$r-$p-$seq", "scala", s"body-$r-$p-$seq", seq)
  }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")

  private def state(df: DataFrame): DataFrame =
    df.select($"repo", $"path", $"commit", $"content")

  /** Per key the greatest (seq, commit) event, unless it is a DELETE. */
  private def oracle(all: DataFrame): DataFrame =
    state(ApplyRef.lwwReduce(all).filter($"op" =!= "DELETE"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a small merge-on-read batch runs as two Spark jobs; a fenced re-delivery as one") {
    val lake = new LakeTable(TestSpark.tmpDir("lakejobs"), spark)
    val app = new CdcApplier(lake, spark, mergeOnRead = true)
    val seed = events(for (r <- 0 until 40; p <- 0 until 50) yield ("UPDATE", r, p, (r * 50 + p).toLong))
    // a second batch leaves delete files, so the measured batch reads the
    // key columns of touched data AND delete files
    val churn = events((0 until 40).map(r => ("UPDATE", r, 0, 5000L + r)))
    // sparse against the 2 000-row table: updates, deletes, new keys
    val batch = events((0 until 20).map(i => ("UPDATE", i * 2, i, 6000L + i)) ++
      (0 until 10).map(i => ("DELETE", i * 3 + 1, i, 6100L + i)) ++
      (0 until 10).map(i => ("INSERT", i, 100 + i, 6200L + i)))
    app.applyBatch(seed, "sb-0")
    app.applyBatch(churn, "sb-1")
    assert(jobsOf(app.applyBatch(batch, "sb-2")) == 2)
    val v = lake.currentVersion
    assert(jobsOf(app.applyBatch(batch, "sb-2")) == 1)
    assert(lake.currentVersion == v)
    assert(sameRows(state(lake.read()), oracle(seed.unionByName(churn).unionByName(batch))))
  }

  test("offsets fence: the map expression keeps exactly what the join form keeps") {
    val committed = Map("0" -> 10L, "1" -> 20L)
    // (part, seq, kept)
    val cases = Seq(
      (Some("0"), Some(11L), true), // above the watermark
      (Some("0"), Some(10L), false), // at the watermark: a replay
      (Some("0"), Some(3L), false),
      (Some("1"), Some(15L), false),
      (Some("1"), Some(21L), true),
      (Some("7"), Some(1L), true), // unknown part: no watermark
      (None, Some(1L), true), // NULL part: no watermark
      (None, None, true),
      (Some("0"), None, false), // NULL seq under a known part
      (Some("7"), None, true))
    val kept = cases.zipWithIndex.collect { case ((_, _, true), i) => i }.toSet
    val strParts = cases.zipWithIndex.map { case ((p, s, _), i) => (i, p, s) }
      .toDF("id", "part", "seq")
    val intParts = cases.zipWithIndex.map { case ((p, s, _), i) => (i, p.map(_.toInt), s) }
      .toDF("id", "part", "seq")
    def ids(df: DataFrame): Set[Int] = df.select($"id").as[Int].collect().toSet
    for (df <- Seq(strParts, intParts)) {
      assert(ids(ApplyRef.fenceByJoin(df, committed)) == kept)
      assert(ids(CdcApplier.fence(df, committed)) == kept)
    }
    assert(ids(CdcApplier.fence(strParts, Map.empty)) == cases.indices.toSet)
    // over a non-local relation (a local one is filtered at optimization):
    // no join, and the offsets stay ONE map literal (a reference in
    // generated code) rather than being folded into per-part constants
    val computed = spark.range(30).select(($"id" % 3).cast("string").as("part"), $"id".as("seq"))
    val plan = CdcApplier.fence(computed, committed).queryExecution.optimizedPlan
    assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    assert(plan.exists(_.expressions.exists(_.exists {
      case Literal(_, _: MapType) => true
      case _ => false
    })))
    assert(CdcApplier.fence(computed, committed).select($"seq").as[Long].collect().toSet ==
      (0L until 30L).filter(i => i % 3 == 2 || (i % 3 == 0 && i > 10) || (i % 3 == 1 && i > 20)).toSet)
  }

  test("a batch over a table above SmallWriteRows takes the exchange path in both merge modes and matches the oracle") {
    val n = LakeTable.SmallWriteRows + 20000
    val seed = spark.range(n).select(lit("UPDATE").as("op"), lit("0").as("part"),
      format_string("sb-repo%03d", $"id" % 500).as("repo"), concat(lit("p"), $"id").as("path"),
      concat(lit("c"), $"id").as("commit"), lit("scala").as("lang"),
      concat(lit("b"), $"id").as("content"), $"id".as("seq"))
    // sparse, spread over the keyspace: every seed file is touched
    // seed key k is (repo k % 500, path k); 900 existing keys, 100 new
    val k = when($"id" < 900, $"id" * 251 % n).otherwise($"id" + n)
    val batch = spark.range(1000).select(
      when($"id" % 5 === 0, "DELETE").otherwise("UPDATE").as("op"), lit("0").as("part"),
      format_string("sb-repo%03d", k % 500).as("repo"), concat(lit("p"), k).as("path"),
      concat(lit("u"), $"id").as("commit"), lit("scala").as("lang"),
      concat(lit("new"), $"id").as("content"), ($"id" + n).as("seq"))
    for (mergeOnRead <- Seq(true, false)) {
      val lake = new LakeTable(TestSpark.tmpDir(s"lakebig-mor$mergeOnRead"), spark)
      val app = new CdcApplier(lake, spark, mergeOnRead = mergeOnRead)
      app.applyBatch(seed, "big-0")
      // above the bound: the merge's exchange (and, merge-on-read, the
      // semi-join broadcasts)
      assert(jobsOf(app.applyBatch(batch, "big-1")) > 2, s"mergeOnRead = $mergeOnRead")
      assert(sameRows(state(lake.read()), oracle(seed.unionByName(batch))),
        s"mergeOnRead = $mergeOnRead")
      assert(lake.currentSnapshot.get.lineage("rowsAfter") == lake.read().count(),
        s"mergeOnRead = $mergeOnRead")
    }
  }
}
