package graft.reference

import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-only reference codec: the split → `from_json` decode that
  * [[graft.codec.ConcatJson.decodeTyped]] replaced. The splitter is a
  * pure function `String => Seq[String]` applied via `flatMap`; parsing
  * happens downstream via `from_json` with an explicit schema. Specs
  * compare the fused codec against it. */
object ConcatJsonRef {

  @transient private lazy val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** Split one blob of concatenated JSON objects into document strings.
    *
    * At each `{` we parse exactly one JSON value (Jackson streaming
    * parser over the shared char array — no copies); on malformed input
    * we advance one char and retry. This is precisely the reference's
    * `raw_decode` cursor recovery: a bare brace-balance scan is NOT
    * enough, because a stray `{` in corrupt bytes would pair with a later
    * stray `}` and swallow every valid document in between. */
  def split(blob: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val arr = blob.toCharArray
    val n = arr.length
    var i = 0
    while (i < n) {
      if (arr(i) == '{') {
        var consumed = -1
        val p = jsonFactory.createParser(arr, i, n - i)
        try {
          p.nextToken() // START_OBJECT
          p.skipChildren() // parse (and validate) to the matching '}'
          consumed = p.currentLocation().getCharOffset.toInt
        } catch {
          case _: com.fasterxml.jackson.core.JacksonException => () // corrupt
        } finally p.close()
        if (consumed > 0) { out += new String(arr, i, consumed); i += consumed }
        else i += 1 // corrupt stray '{': cursor+1 retry (raw_decode)
      } else i += 1 // skip corrupt/filler byte between documents
    }
    out.result()
  }

  /** Blobs → one row per candidate JSON document. */
  def explodeDocs(blobs: Dataset[String]): Dataset[String] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap(split _)
  }

  /** Documents → typed change-event rows with explicit schema; rows whose
    * JSON fails to parse keep the raw text in `_corrupt` (PERMISSIVE-mode
    * analog). Schema-variant resolution (P5): v1 events carry the
    * composite `commit_lang = "<commit>#<lang>"`; v2 carry explicit
    * fields — resolved with coalesce + split, exactly the dual path of
    * `data_profiling.py:73-86`. */
  def parse(docs: Dataset[String], spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.toDF("raw")
      .withColumn("j", from_json($"raw", graft.core.Model.changeEventSchema))
      .withColumn("_corrupt", when($"j".isNull, $"raw"))
      .select(
        $"raw", $"_corrupt",
        $"j.event_id".as("event_id"),
        $"j.op".as("op"),
        $"j.seq".as("seq"),
        $"j.repo".as("repo"),
        $"j.path".as("path"),
        // v2 explicit field wins; v1 composite is the fallback:
        coalesce($"j.commit",
          when($"j.commit_lang".contains("#"),
            substring_index($"j.commit_lang", "#", 1))).as("commit"),
        coalesce($"j.lang",
          when($"j.commit_lang".contains("#"),
            element_at(org.apache.spark.sql.functions.split($"j.commit_lang", "#"), -1)))
          .as("lang"),
        $"j.content".as("content"),
        $"j.schema_ver".as("schema_ver"),
        $"j.source".as("source"),
        $"j.part".as("part"),
        $"j.payload".as("payload"))
  }
}
