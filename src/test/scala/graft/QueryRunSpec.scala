package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** One evaluation of `SparkEntry.queries` is one run: the engine queries
  * share the run's replayed lakes and q17/q36 its MinHash-LSH pair set,
  * and a second evaluation shares nothing with the first. Shown by what
  * ran — the SQL executions a listener hears — and never through the
  * session cache. */
class QueryRunSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def assertNoCache(after: String): Unit =
    assert(spark.sharedState.cacheManager.isEmpty, s"a cache entry is left after $after")

  /** Run each named query of `qs` in `s` to completion, checking the
    * session cache after each one. */
  private def runAll(qs: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      s: SparkSession, names: Seq[String]): Unit =
    names.foreach { q =>
      assert(qs(q)(s, dir).collect().nonEmpty, q)
      assertNoCache(q)
    }

  /** The lake directories named `<prefix>-…` that the parquet writes
    * `body` runs in `s` write under. */
  private def lakesWritten(s: SparkSession, prefix: String)(body: => Unit): Set[String] = {
    val lake = s"/($prefix-[^/]+)/".r
    ExecutedPlans.of(s)(body).flatMap(ExecutedPlans.nodes).collect {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) =>
        w.outputPath.toString
    }.flatMap(p => lake.findFirstMatchIn(p).map(_.group(1))).toSet
  }

  test("one queries value replays each merge mode once; a second value replays again") {
    val s = spark.newSession()
    val qs = SparkEntry.queries
    val mor = Seq("q22_cdc_engine_replay", "q25_lineage_metrics", "q27_changes_since")
    val first = lakesWritten(s, "e2e-lake")(runAll(qs, s, mor))
    assert(first.size == 1, s"q22, q25 and q27 wrote $first")

    // the rest of the engine queries: the copy-on-write lake is replayed
    // once, and the merge-on-read lake not again
    val rest = graft.queries.EngineE2E.all.keys.toSeq.sorted.filterNot(mor.contains)
    var cow = Set.empty[String]
    val again = lakesWritten(s, "e2e-lake") {
      cow = lakesWritten(s, "cow-lake")(runAll(qs, s, rest))
    }
    assert(again.isEmpty, s"the merge-on-read lake was replayed again: $again")
    assert(cow.size == 1, s"the copy-on-write lake was replayed into $cow")

    val second = lakesWritten(s, "e2e-lake")(runAll(SparkEntry.queries, s, mor.take(1)))
    assert(second.size == 1 && (second & first).isEmpty,
      s"a second queries value wrote $second; the first wrote $first")
  }

  /** The (band, bucket) self-joins among the executions `body` runs in
    * `s`: one per run of the LSH pipeline. */
  private def lshRuns(s: SparkSession)(body: => Unit): Int =
    ExecutedPlans.of(s)(body).flatMap(ExecutedPlans.nodes).count {
      case j: BaseJoinExec => j.leftKeys.exists(_.references.exists(_.name == "band"))
      case _ => false
    }

  test("q17 then q36 of one queries value run the LSH pipeline once; a second value runs it again") {
    val s = spark.newSession()
    val qs = SparkEntry.queries
    assert(lshRuns(s)(runAll(qs, s, Seq("q17_minhash_lsh", "q36_dedup_clusters"))) == 1)
    assert(lshRuns(s)(runAll(SparkEntry.queries, s, Seq("q36_dedup_clusters"))) == 1)
  }
}
