package graft.reference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.apply.CdcApplier

/** Test-only reference forms of the apply path: the plain one-phase
  * per-key LWW reduce that [[CdcApplier.saltedLwwReduce]] must equal (the
  * apply path folds LWW into its merge aggregate instead), and the join
  * form of the offsets fence that [[CdcApplier.fence]] must equal. */
object ApplyRef {

  /** The offsets fence as a broadcast left join on the committed offsets:
    * an event is kept iff its part has no watermark or its seq is above
    * it. */
  def fenceByJoin(events: DataFrame, committed: Map[String, Long]): DataFrame =
    if (committed.isEmpty) events
    else {
      val spark = events.sparkSession
      import spark.implicits._
      events.join(broadcast(committed.toSeq.toDF("part", "_off")), Seq("part"), "left")
        .filter(col("_off").isNull || col("seq") > col("_off"))
        .drop("_off")
    }

  /** Per key, the row with the greatest (seq, commit). */
  def lwwReduce(events: DataFrame): DataFrame = {
    val keyCols = CdcApplier.keyCols
    val valueCols = events.columns.filterNot(keyCols.contains).toSeq
    events.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*),
        struct(col("seq"), col("commit"))).as("r"))
      .select(keyCols.map(col) ++ valueCols.map(c => col(s"r.$c").as(c)): _*)
  }
}
