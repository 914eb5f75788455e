package graft

import scala.collection.mutable

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plans of the SQL executions a piece of code runs — for
  * operators whose work is spread over several executions (a checkpointed
  * intermediate is planned in the `localCheckpoint` execution that
  * declared it, not in the plan that reads it). */
object ExecutedPlans {

  /** The executed plans of every named SQL execution (`collect`,
    * `localCheckpoint`, a write, …) that `body` runs in `session`. A
    * QueryExecutionListener hears only its own session: give the code a
    * session of its own (`spark.newSession()`) to keep other suites'
    * executions out. The plans are the objects that ran, so once `body`
    * has returned their AQE plans are final and their SQL metrics hold
    * totals, also for a checkpointed subtree that a later job filled. */
  def of(session: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized { seen += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try body
    finally {
      GraftTestBus.drain(session.sparkContext)
      session.listenerManager.unregister(listener)
    }
    seen.synchronized(seen.toList)
  }

  /** Every node of an executed plan, through AQE query stages and into
    * the plan an in-memory scan reads (a `.cache()`d frame's, which is not
    * among the scan's children). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** Rows that the parquet scans of `plans` output. A cached frame's plan
    * is one object shared by every scan of the cache, so each node counts
    * once however many plans reach it. */
  def scannedRows(plans: Seq[SparkPlan]): Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    plans.flatMap(nodes).collect {
      case f: FileSourceScanExec if seen.add(f) => f.metrics("numOutputRows").value
    }.sum
  }
}
