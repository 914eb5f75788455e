package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator-level correctness surface: one entry per
  * implemented operator from SURVEY.md §2, each with a DuckDB oracle in
  * `oracleSql` (column names aligned on both sides; aggregates of doubles
  * are per-row rounded to integer cents so hashes are FP-order-proof).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The engine itself: events-as-changelog replayed through fence →
    * LWW MERGE → snapshot commits → final-state read. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.EngineE2E.all("q22_cdc_engine_replay")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. Each evaluation is
    * one run, whose queries share its fixtures with no other run. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.all ++
      graft.queries.TrainingData.all ++
      graft.queries.EngineE2E.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.TrainingData.oracles ++
      graft.queries.EngineE2E.oracles
}
