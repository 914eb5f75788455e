package graft.reference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.apply.CdcApplier

/** Test-only reference form of the LWW reduce: the plain one-phase per-key
  * reduce that [[CdcApplier.saltedLwwReduce]] must equal. The apply path
  * folds LWW into its merge aggregate instead. */
object ApplyRef {

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
