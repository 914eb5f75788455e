package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.repair.Repair
import graft.validate.Validate

/** Golden-row parity for the repair layer (mirrors the reference's
  * `test_flat_jsons.py` cases: the -1 score sentinel, int→string
  * paragraph drift with DELETE skip, "null"-string union tags, rename
  * canonicalization) and the validation matrix (mirrors
  * `test_data_profiling.py`'s pass/fail cases, extended). */
class RepairValidateSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val payloadT = graft.core.Model.changeEventSchema("payload").dataType
    .asInstanceOf[StructType]

  private def eventDf(op: String, payload: Row) = {
    val schema = StructType(Seq(StructField("op", StringType),
      StructField("payload", payloadT)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(op, payload)), schema)
  }

  private def payload(scores: Seq[Row] = null, paragraph: String = null,
      tags: String = null, stars: java.lang.Long = null,
      descr: String = null, description: String = null,
      output: Row = null): Row =
    Row(scores, paragraph, tags, stars, descr, description, output)

  test("R1: -1 score sentinel → null, ints recast to double, absent array → null") {
    val in = eventDf("UPDATE", payload(scores = Seq(
      Row("s1", -1.0), Row("s2", 3.0))))
    val out = Repair.all(in).select($"payload.scores").head()
    val scores = out.getSeq[Row](0)
    assert(scores(0).isNullAt(1)) // -1 sentinel nulled
    assert(scores(1).getDouble(1) == 3.0)
    val absent = Repair.all(eventDf("UPDATE", payload()))
      .select($"payload.scores").head()
    assert(absent.isNullAt(0))
  }

  test("R2: float-ish paragraph tail trimmed, except on DELETE") {
    val upd = Repair.all(eventDf("UPDATE", payload(paragraph = "42.0")))
      .select($"payload.paragraph").head().getString(0)
    assert(upd == "42")
    val del = Repair.all(eventDf("DELETE", payload(paragraph = "42.0")))
      .select($"payload.paragraph").head().getString(0)
    assert(del == "42.0") // reference skips DELETE (`flat_jsons.py:77-78`)
  }

  test("R5: union tags — 'null' → [], scalar → [scalar], json list → list") {
    def tagsOf(raw: String): Seq[String] =
      Repair.all(eventDf("UPDATE", payload(tags = raw)))
        .select($"payload.tags_norm").head().getSeq[String](0)
    assert(tagsOf("null") == Seq())
    assert(tagsOf("solo") == Seq("solo"))
    assert(tagsOf("""["a","b"]""") == Seq("a", "b"))
    assert(tagsOf(null) == Seq())
  }

  test("rename evolution: v1 descr canonicalized into v2 description") {
    val v1 = Repair.all(eventDf("UPDATE", payload(descr = "old-style")))
      .select($"payload.description").head().getString(0)
    assert(v1 == "old-style")
    val v2 = Repair.all(eventDf("UPDATE",
      payload(descr = "old", description = "new")))
      .select($"payload.description").head().getString(0)
    assert(v2 == "new") // explicit v2 field wins
  }

  test("R6/J1: full reference semantics in the operator — match, miss, tag, multi-match") {
    // golden rows ≙ test_flat_jsons.py:218-286
    val events = Seq(
      ("e1", "MYLIB/42", "PUBLISH"),   // multi-match → first (min) wins
      ("e2", "MYLIB/404", "PUBLISH"),  // miss → original id kept
      ("e3", "MYLIB/42", "ADD_TAG")    // tag → enrichment target nulled
    ).toDF("id", "media_key", "etype")
    val dim = Seq(("MYLIB/42", "s3://bucket/a/42.png"), ("MYLIB/42", "s3://bucket/z/42.png"))
      .toDF("lookup_key", "uri")
    val out = Repair.enrichUri(events, dim, col("media_key"),
        isTagEvent = $"etype" === "ADD_TAG")
      .select($"id", $"uri", $"uri_matches").collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out("e1") == (("s3://bucket/a/42.png", 2L))) // min pick + observable multi-match
    assert(out("e2") == (("MYLIB/404", 0L)))            // flat_jsons.py:165-170
    assert(out("e3") == ((null, -1L)))                  // flat_jsons.py:176-181
  }

  test("validation matrix: each rule fires alone; clean event passes") {
    val base = Map(
      "_corrupt" -> null, "event_id" -> "e", "op" -> "INSERT",
      "seq" -> 5L, "repo" -> "r", "path" -> "p", "commit" -> "c",
      "content" -> "x", "source" -> "app.change.log", "part" -> "0")
    def dfOf(over: (String, Any)*): org.apache.spark.sql.DataFrame = {
      val m = base ++ over
      val schema = StructType(Seq(
        StructField("_corrupt", StringType), StructField("event_id", StringType),
        StructField("op", StringType), StructField("seq", LongType),
        StructField("repo", StringType), StructField("path", StringType),
        StructField("commit", StringType), StructField("content", StringType),
        StructField("source", StringType), StructField("part", StringType)))
      spark.createDataFrame(java.util.Arrays.asList(Row(
        m("_corrupt"), m("event_id"), m("op"), m("seq"), m("repo"), m("path"),
        m("commit"), m("content"), m("source"), m("part"))), schema)
    }
    def errorsOf(over: (String, Any)*): Set[String] =
      Validate.annotate(dfOf(over: _*)).select($"errors")
        .head().getSeq[String](0).toSet

    assert(errorsOf() == Set())
    assert(errorsOf("op" -> "UPSERT") == Set("op_not_in_enum"))
    assert(errorsOf("seq" -> null) == Set("missing_seq"))
    assert(errorsOf("repo" -> "") == Set("missing_repo"))
    assert(errorsOf("commit" -> null) == Set("unresolvable_commit"))
    assert(errorsOf("content" -> null) == Set("missing_content"))
    // DELETE without content is legal (tombstones carry no payload):
    assert(errorsOf("op" -> "DELETE", "content" -> null) == Set())
    assert(errorsOf("source" -> "other.system") == Set("wrong_source"))
    assert(errorsOf("_corrupt" -> "rawjunk") == Set("corrupt_json"))
    // multiple failures accumulate:
    assert(errorsOf("op" -> null, "repo" -> null) ==
      Set("missing_op", "missing_repo"))
  }

  // ---- per-(service, kind) registry matrix — mirrors the reference's
  // five `test_data_profiling.py` cases over `anyof_schema` variants ----

  private def wireDf(over: (String, Any)*): org.apache.spark.sql.DataFrame = {
    val base = Map[String, Any](
      "_corrupt" -> null, "raw" -> "{}", "event_id" -> "e", "op" -> "INSERT",
      "seq" -> 5L, "repo" -> "r", "path" -> "p",
      "commit" -> "c", "lang" -> "scala", "commit_lang" -> null,
      "content" -> "x", "source" -> "app.change.log", "part" -> "0")
    val m = base ++ over
    val schema = StructType(Seq(
      StructField("_corrupt", StringType), StructField("raw", StringType),
      StructField("event_id", StringType), StructField("op", StringType),
      StructField("seq", LongType), StructField("repo", StringType),
      StructField("path", StringType), StructField("commit", StringType),
      StructField("lang", StringType), StructField("commit_lang", StringType),
      StructField("content", StringType), StructField("source", StringType),
      StructField("part", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(Row(
      m("_corrupt"), m("raw"), m("event_id"), m("op"), m("seq"), m("repo"),
      m("path"), m("commit"), m("lang"), m("commit_lang"), m("content"),
      m("source"), m("part"))), schema)
  }

  private def registryErrors(over: (String, Any)*): Set[String] = {
    val (clean, dirty) = Validate.routeByClass(wireDf(over: _*))
    if (dirty.isEmpty) { assert(clean.count() == 1); Set() }
    else dirty.select($"errors").head().getSeq[String](0).toSet
  }

  test("a corrupt row violates exactly corrupt_json on both validators") {
    // the codec's corrupt row carries no parsed field: no field or class
    // rule may also fire on it, nor count it
    val corrupt = wireDf("_corrupt" -> "{\"seq\":,,", "event_id" -> null, "op" -> null,
      "seq" -> null, "repo" -> null, "path" -> null, "commit" -> null, "lang" -> null,
      "content" -> null, "source" -> null, "part" -> null)
    val (_, dirtyGlobal) = Validate.routeObserved(corrupt, name = "corrupt-global")
    val (_, dirtyReg) = Validate.routeByClass(corrupt)
    // collected as they are, so each plan's observation is filled
    Seq(dirtyGlobal, dirtyReg).foreach { dirty =>
      assert(dirty.collect().map(r => r.getSeq[String](r.fieldIndex("errors"))).toSeq ==
        Seq(Seq("corrupt_json")))
    }
    // the observed counters: corrupt_json alone, over one parsed row
    val observed = dirtyGlobal.queryExecution.observedMetrics("corrupt-global")
    val counts = observed.schema.fieldNames.zip(observed.toSeq).toMap
    assert(counts("parsed") == 1L && counts("quarantined") == 1L)
    assert(counts("rule.corrupt_json") == 1L)
    assert(counts.collect { case (k, n: Long) if k.startsWith("rule.") && n > 0 => k }.toSet ==
      Set("rule.corrupt_json"))
  }

  test("registry case 1: old-style event (composite commit_lang) passes its class") {
    // ≙ test_data_profiling.py:25-66 (v1 variant via prediction_id)
    assert(registryErrors("commit" -> null, "lang" -> null,
      "commit_lang" -> "abc123#python") == Set())
  }

  test("registry case 2: new-style event (explicit commit+lang) passes") {
    // ≙ test_data_profiling.py:68-111 (v2 variant via explicit service)
    assert(registryErrors() == Set())
  }

  test("registry case 3: neither variant resolvable fails with BOTH variants' errors") {
    // ≙ test_data_profiling.py:113-155
    val errs = registryErrors("commit" -> null, "lang" -> "go",
      "commit_lang" -> "no-separator")
    assert(errs == Set("v0.unresolvable_commit", "v1.missing_commit"))
  }

  test("registry case 4: per-class required fields — upsert needs content, delete does not") {
    // ≙ test_data_profiling.py:157-203 (good prediction passes) + the
    // class-specific requirement a global rule set cannot express
    assert(registryErrors("op" -> "DELETE", "content" -> null) == Set())
    // anyof semantics: BOTH variants' failures are recorded (the v2-style
    // event also fails v0's composite-commit requirement, like Cerberus
    // reporting every anyof branch)
    val errs = registryErrors("content" -> null)
    assert(errs == Set("v0.unresolvable_commit",
      "v0.missing_content", "v1.missing_content"))
  }

  test("registry case 5: unknown service quarantines as unknown_event_class, never crashes") {
    // ≙ test_data_profiling.py:205-251 (wrong service enum → fail; the
    // reference's IndexError-skip `data_profiling.py:190-202` made typed)
    assert(registryErrors("lang" -> "rust", "commit_lang" -> null) ==
      Set("unknown_event_class"))
    // ... while a registry extended with the new producer accepts it:
    val reg = Validate.defaultRegistry(Seq("scala", "python", "java", "go", "md", "rust"))
    val (clean, _) = Validate.routeByClass(wireDf("lang" -> "rust"), reg)
    assert(clean.count() == 1)
  }

  test("registry ambiguity is a construction-time hard error") {
    // ≙ data_profiling.py:165-170 (two schema files for one class → exit)
    val dup = Validate.EventClass("scala", "upsert")
    intercept[IllegalArgumentException] {
      Validate.RuleRegistry(Seq(
        dup -> Seq(Seq(Validate.Rule("a", lit(true)))),
        dup -> Seq(Seq(Validate.Rule("b", lit(true))))))
    }
  }

  test("registry path through the full pipeline: per-class routing + resolution") {
    val lake = new graft.lake.LakeTable(TestSpark.tmpDir("regpipe"), spark)
    val blobs = graft.gen.ChangeLogGen.blobs(spark, 400, 31L)
      .select($"blob").as[String]
    val (_, dirty) = CdcPipeline.processBlobs(spark, blobs, lake, "reg-0",
      registry = Some(Validate.defaultRegistry()))
    val dirtyRows = dirty.count()
    // wrong-source + corrupt slices land in quarantine, clean rows commit
    assert(dirtyRows > 0 && lake.read().count() > 0)
    // parity with the global-rule pipeline on the same input (the
    // default registry encodes the same semantics, dispatched by class)
    val lake2 = new graft.lake.LakeTable(TestSpark.tmpDir("regpipe2"), spark)
    val (_, dirty2) = CdcPipeline.processBlobs(spark, blobs, lake2, "reg-0")
    assert(dirty2.count() == dirtyRows)
    val a = lake.read().select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    val b = lake2.read().select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
