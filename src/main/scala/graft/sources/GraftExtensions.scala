package graft.sources

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Optional Catalyst integration for the `graft` source — enable with
  *
  * {{{ spark.sql.extensions=graft.sources.GraftExtensions }}}
  *
  * A merge-on-read / renamed snapshot reads through a
  * [[GraftResolvingRelation]], whose one plan is the engine's own read
  * (manifest-backed parquet scans joined against the per-key delete
  * maximum / rename coalesce). Without the extension its V1 `buildScan`
  * runs that plan under the pushed filters and must surface an
  * `RDD[Row]`: the inner plan is still vectorized parquet, but the V1
  * API's row bridge caps it out of whole-stage codegen at the top. With
  * the extension installed, [[GraftResolveMorRule]] replaces the
  * relation DURING ANALYSIS with that same plan, so the delete
  * resolution stays INSIDE Catalyst: columnar scans, codegen, filter
  * pushdown into parquet, AQE — no row bridge anywhere. This is the
  * preference order SURVEY.md §2
  * prescribes: compose built-in operators via a rule rather than
  * re-implement a reader (what a DataSource V2 `PartitionReader` port
  * would require; Iceberg's Spark runtime makes the same trade for
  * equality deletes).
  *
  * The bound (no-delete) relation and the streaming source are
  * unaffected — they are already columnar / already snapshot-diff
  * driven. Both paths run the same plan, so the config is purely an
  * optimization switch. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(session => new GraftResolveMorRule(session))
    ()
  }
}

/** Analysis rule: `LogicalRelation(GraftResolvingRelation)` → the
  * relation's resolved engine plan, re-aliased onto the relation's
  * output attribute ids so references above the relation stay bound. */
class GraftResolveMorRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case lr: LogicalRelation if lr.relation.isInstanceOf[GraftResolvingRelation] =>
      val child = lr.relation.asInstanceOf[GraftResolvingRelation]
        .resolvedPlan.queryExecution.analyzed
      val byName = child.output.map(a => a.name -> a).toMap
      Project(lr.output.map(a =>
        Alias(byName(a.name), a.name)(exprId = a.exprId)), child)
  }
}
