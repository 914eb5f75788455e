package graft.core

import org.apache.spark.sql.types._

/** Core data model of the CDC engine (SURVEY.md §1.4).
  *
  * The lake table is `repos(repo, path, commit, lang, content)` keyed
  * `(repo, path)`, last-writer-wins ordered by `seq` (commit sequence,
  * epoch-ms-like — the analog of the reference's `detail.timestamp`,
  * `/root/reference/dependencies/microone_prediction.json:48-51`) with
  * `commit` as the deterministic tiebreak for a total order (SURVEY.md
  * §7.4-2).
  */
object Model {

  /** Change-event operations (≙ reference event types PUBLISH / DELETE /
    * DELETE SLIDE, `/root/reference/dependencies/microone_event.json:95-102`). */
  object Op {
    val Insert = "INSERT"
    val Update = "UPDATE"
    val Delete = "DELETE"
    val all: Seq[String] = Seq(Insert, Update, Delete)
  }

  /** Wire schema of a change event as JSON (explicit — no inference scan,
    * unlike the reference's `spark.read.json` at
    * `convert_to_parquet.py:183`). */
  val changeEventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("op", StringType),
    StructField("seq", LongType),
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lang", StringType),
    StructField("commit_lang", StringType), // v1 composite form
    StructField("content", StringType),
    StructField("schema_ver", StringType),
    StructField("source", StringType),
    StructField("part", StringType), // binlog source partition (offsets key)
    // payload struct exercising the nested-repair surface (§2.3):
    StructField("payload", StructType(Seq(
      StructField("scores", ArrayType(StructType(Seq(
        StructField("sentence", StringType),
        StructField("score", DoubleType))))),
      StructField("paragraph", StringType),
      StructField("tags", StringType),      // union string|list as raw JSON
      StructField("stars", LongType),       // v2-only (schema evolution add)
      StructField("descr", StringType),     // v1 name
      StructField("description", StringType), // v2 name (rename evolution)
      // deep-nested branch at reference fidelity (MICROONE_PRED's
      // output_metadata: struct→struct→array<struct>→array,
      // `microone_prediction.json:122-162`):
      StructField("output", StructType(Seq(
        StructField("metadata", ArrayType(StructType(Seq(
          StructField("idx", LongType),
          StructField("filtered_sentences", ArrayType(StringType))))))))))))))

  /** Canonical lake schema (v1). Evolution appends columns. */
  val lakeSchemaV1: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("lang", StringType),
    StructField("content", StringType),
    StructField("seq", LongType, nullable = false)))
}
