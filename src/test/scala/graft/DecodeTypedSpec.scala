package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.ConcatJson
import graft.reference.ConcatJsonRef

/** The fused typed codec must agree with the split+from_json reference
  * path on every document — including corruption recovery and the
  * boundary between back-to-back documents (a Jackson read-ahead bug
  * would silently swallow the next doc). */
class DecodeTypedSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def decode(blob: String) =
    ConcatJson.decodeTyped(Seq(blob).toDS()).collect()

  test("back-to-back docs all decode with exact boundaries") {
    val rows = decode(
      """{"event_id":"a","seq":1,"repo":"r"}{"event_id":"b","seq":2,"repo":"r"}{"event_id":"c","seq":3,"repo":"r"}""")
    assert(rows.map(_.event_id).toSeq == Seq("a", "b", "c"))
    assert(rows.map(_.seq.longValue).toSeq == Seq(1L, 2L, 3L))
  }

  test("corrupt bytes and stray braces between docs are skipped") {
    val rows = decode(
      """xx{"event_id":"a","seq":1} GARBAGE}{[not-json {"event_id":"b","seq":2}""")
    assert(rows.filter(!_.corrupt).map(_.event_id).toSeq == Seq("a", "b"))
  }

  test("a top-level array before a document is skipped; the document survives alone") {
    // the leading '[' is not an object start, so it is skipped at the
    // char level: no row for it, corrupt or not
    val rows = decode("""[1,2,3]{"event_id":"a","seq":1}""")
    assert(rows.map(r => (r.event_id, r.corrupt)).toSeq == Seq(("a", false)))
  }

  test("a malformed document is one corrupt row; valid documents decode unchanged") {
    val valid = Seq("""{"event_id":"a","seq":1}""", """{"event_id":"b","seq":2}""")
    // a doubled comma, and the generator's 1% garbage prefix, whose '{'
    // starts a failed parse
    Seq("""{"event_id":"x",,"seq":9}""", "\u0000GARBAGE}{[not-json ").foreach { bad =>
      val rows = decode(valid.head + bad + valid(1))
      val corrupt = rows.filter(_.corrupt)
      assert(corrupt.length == 1, bad)
      // its text runs from the '{' to where the parser failed, and it
      // carries no other field
      val raw = corrupt.head.raw
      assert(raw.startsWith("{") && bad.drop(bad.indexOf('{')).startsWith(raw), raw)
      assert(corrupt.head.productIterator.drop(2).forall(_ == null), bad)
      assert(rows.filter(!_.corrupt).toSeq == decode(valid.mkString).toSeq, bad)
    }
  }

  test("typed decode ≡ split+from_json path on generated wire data") {
    val blobs = graft.gen.ChangeLogGen.blobs(spark, 2000, seed = 99L)
      .select($"blob").as[String].cache()
    val typed = ConcatJson.decodeTyped(blobs)
      .filter(!_.corrupt)
      .collect()
      .map(r => (r.event_id, r.op, r.seq.longValue, r.repo, r.path,
        Option(r.commit).orNull, Option(r.lang).orNull,
        Option(r.commit_lang).orNull, r.content, r.schema_ver, r.source, r.part))
      .toSet
    val legacy = ConcatJsonRef.parse(ConcatJsonRef.explodeDocs(blobs), spark)
      .filter($"_corrupt".isNull)
      .collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("op"),
        r.getAs[Long]("seq"),
        r.getAs[String]("repo"), r.getAs[String]("path"),
        // legacy parse() already resolves v1 composite into commit/lang;
        // reverse that for comparison by reading the raw variant fields
        null, null, null,
        r.getAs[String]("content"), r.getAs[String]("schema_ver"),
        r.getAs[String]("source"), r.getAs[String]("part")))
      .toSet
    blobs.unpersist()
    assert(typed.size == legacy.size)
    // compare on the variant-independent projection:
    def proj(t: (String, String, Long, String, String, String, String, String,
        String, String, String, String)) = (t._1, t._2, t._3, t._4, t._5, t._9, t._10, t._11, t._12)
    assert(typed.map(proj) == legacy.map(proj))
  }

  test("v1/v2 schema variants resolve identically through the pipeline") {
    val v1 = decode("""{"event_id":"a","seq":1,"repo":"r","path":"p","commit_lang":"abc123#scala","content":"c","schema_ver":"v1","source":"app.change.log","part":"0","op":"INSERT"}""")
    assert(v1.head.commit_lang == "abc123#scala" && v1.head.commit == null)
    // resolution happens in CdcPipeline; check it end-to-end:
    val lake = new graft.lake.LakeTable(TestSpark.tmpDir("typedv1"), spark)
    CdcPipeline.processBlobs(spark,
      Seq("""{"event_id":"a","seq":1,"repo":"r","path":"p","commit_lang":"abc123#scala","content":"c","schema_ver":"v1","source":"app.change.log","part":"0","op":"INSERT"}""").toDS(),
      lake, "v1-batch")
    val row = lake.read().select($"commit", $"lang").head()
    assert(row.getString(0) == "abc123" && row.getString(1) == "scala")
  }
}
