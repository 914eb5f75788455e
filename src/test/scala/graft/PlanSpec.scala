package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the optimizations the queries rely on must
  * actually appear in the physical plan — filters/projections reach the
  * parquet scan, small dims broadcast, no cartesian products sneak in.
  * (The .explain discipline, executable.) */
class PlanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** The executed plans of every SQL execution that one q17 call and its
    * action run, final (AQE) plans as they ran. The registered q17 of a
    * fresh `SparkEntry.queries` holds its pair set as a lazy
    * localCheckpoint (the run shares it with q36), and the operator
    * checkpoints its own intermediates, so no single plan holds the
    * pipeline: each checkpointed subtree is in the execution that
    * declared it. */
  private lazy val q17plans: Seq[SparkPlan] = {
    val s = spark.newSession()
    ExecutedPlans.of(s)(SparkEntry.queries("q17_minhash_lsh")(s, dir).collect())
  }

  test("q02: predicate pushdown + column pruning reach the scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"expected pushed filters in:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      "projection should prune unused columns from the scan")
  }

  test("q03: dimension join is a broadcast hash join") {
    val p = plan("q03_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
  }

  test("q04: multi-join uses broadcasts for dims, no nested-loop/cartesian") {
    val p = plan("q04_multijoin_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q05: LWW aggregates with map-side partial combine, no window") {
    val p = plan("q05_lww_latest")
    // max_by over a struct buffer plans as SortAggregate (struct buffers
    // aren't hash-aggregable) — the scale-critical property is the
    // partial_max_by BEFORE the exchange: hot keys collapse map-side.
    assert(p.contains("partial_max_by"), s"expected partial aggregation in:\n$p")
    assert(p.indexOf("partial_max_by") > p.indexOf("Exchange"),
      "partial aggregate must sit below the exchange (plans print top-down)")
    assert(!p.contains("Window"), "max_by LWW must not plan a window")
  }

  test("q17: LSH candidate join is an equi-join, never a cartesian") {
    assert(q17plans.nonEmpty)
    q17plans.map(_.toString).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"LSH must bucket-join, got:\n$p")
    }
  }

  test("q17: signature+banding is a row-local scan-stage kernel — no exchange") {
    // the per-doc MinHash signature is computed by a mapPartitions kernel
    // in the scan stage; the explode → 16-min-aggregate round trip (an
    // O(corpus shingles) exchange) must NOT reappear
    val ps = q17plans.map(_.toString)
    assert(ps.exists(_.contains("MapPartitions")), s"expected signature kernel in:\n$ps")
    ps.foreach { p =>
      assert(!p.contains("partial_min"),
        s"signature must not shuffle through a min-aggregate:\n$p")
    }
  }

  test("q17: verify stage shingles only candidates (left-semi)") {
    // a shingle kernel with the candidate semi-join below it
    val shingled = q17plans.flatMap(ExecutedPlans.nodes).exists {
      case m: MapPartitionsExec => ExecutedPlans.nodes(m).exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }
      case _ => false
    }
    assert(shingled,
      s"verify must semi-join to surviving candidates before shingling:\n${q17plans.mkString("\n")}")
  }

  test("q17: one (band, bucket) self-join per call") {
    // AQE broadcasts every q17 join at run time, so exchange reuse cannot
    // share the candidate pair set between the branches that read it;
    // the operator materializes it once
    val selfJoins = q17plans.flatMap(ExecutedPlans.nodes).count {
      case j: BaseJoinExec => j.leftKeys.exists(_.references.exists(_.name == "band"))
      case _ => false
    }
    assert(selfJoins == 1, s"expected one self-join in:\n${q17plans.mkString("\n")}")
  }

  test("q24: enrichment dimension broadcasts; fact side never shuffles") {
    val p = plan("q24_lookup_enrich")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
    // the only exchanges allowed are the dim-side aggregate + broadcast;
    // the events fact table must not hash-repartition
    assert(!p.contains("hashpartitioning(event_id") &&
      !p.contains("hashpartitioning(media_key"),
      s"fact side must not shuffle in:\n$p")
  }

  test("q26: deep flatten is one codegen'd projection — no shuffle at all") {
    val p = plan("q26_deep_flatten")
    assert(!p.contains("Exchange"), s"nested-path flatten must not shuffle:\n$p")
    assert(p.contains("*(1)"), s"expected a codegen span in:\n$p")
  }

  test("q20: multi-probe ANN joins on bucket equality, no cartesian") {
    val p = plan("q20_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ANN candidates must come from a bucket equi-join:\n$p")
  }

  test("q34: HLL sketch is hash aggregates with map-side combine, no extra exchange") {
    val p = plan("q34_hll_distinct")
    assert(p.contains("HashAggregate") && p.contains("partial_max"),
      s"register maxima must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q38: token packing never plans a single-partition exchange") {
    val p = plan("q38_token_packing")
    assert(!p.contains("Exchange SinglePartition"),
      s"the distributed prefix sum must not funnel into one task:\n$p")
    assert(p.contains("Window"), "per-partition running sum should be a window")
  }

  test("operators leave no session cache behind (q16 q29 q30 q36 q38 q42 q47)") {
    // a long-lived session never releases a registry: each query must
    // drop its intermediates with the frame it returned
    spark.catalog.clearCache()
    Seq("q16_ngram_jaccard", "q29_embedding_neardup", "q30_ann_ivf",
        "q36_dedup_clusters", "q38_token_packing", "q42_heavy_hitters",
        "q47_range_join").foreach { name =>
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a session cache")
    }
  }

  test("q16 shingles each doc and q29 quantizes each vector once per call") {
    // the shingle sets feed both join sides; the quantized vectors feed
    // both candidate-join sides and the verify re-join
    Seq("q16_ngram_jaccard" -> "documents", "q29_embedding_neardup" -> "embeddings")
      .foreach { case (name, table) =>
        val s = spark.newSession()
        val plans = ExecutedPlans.of(s) {
          SparkEntry.queries(name)(s, dir).write.format("noop").mode("overwrite").save()
        }
        val scanned = ExecutedPlans.scannedRows(plans)
        val rows = spark.read.parquet(s"$dir/$table.parquet").count()
        assert(scanned == rows, s"$name scanned $scanned rows of $rows")
      }
  }

  test("scan counts reach a cached frame's plan and count it once") {
    // both join sides read one cache: its plan sits behind each in-memory
    // scan (not among the scan's children) and is one shared object
    val s = spark.newSession()
    val cached = s.read.parquet(s"$dir/documents.parquet").cache()
    try {
      val plans = ExecutedPlans.of(s) {
        cached.join(cached.select(col("doc_id")), "doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      val rows = spark.read.parquet(s"$dir/documents.parquet").count()
      assert(ExecutedPlans.scannedRows(plans) == rows, plans.mkString("\n"))
    } finally cached.unpersist(blocking = true)
  }

  test("q16 and q17 run the Jaccard kernel, no array set operations") {
    val s = spark.newSession()
    val plans = q17plans ++ ExecutedPlans.of(s) {
      SparkEntry.queries("q16_ngram_jaccard")(s, dir).write.format("noop").mode("overwrite").save()
    }
    plans.flatMap(ExecutedPlans.nodes).foreach { n =>
      n.expressions.foreach { e =>
        assert(!e.exists(x => x.isInstanceOf[ArrayIntersect] || x.isInstanceOf[ArrayUnion]),
          s"array set operation in:\n$n")
      }
    }
  }

  test("q37: contamination join is an equi-join on gram digests, no cartesian") {
    val p = plan("q37_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination must hash-join on digests:\n$p")
  }

  test("whole-stage codegen covers the scalar pipeline (q10)") {
    val p = plan("q10_scalar_functions")
    // codegen stages render as "*(n)" in executedPlan.toString
    assert(p.contains("*(1)"), s"expected codegen spans in:\n$p")
  }
}
