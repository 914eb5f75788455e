package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec.ConcatJson
import graft.reference.ConcatJsonRef

/** Splitter parity with the reference's raw_decode cursor loop
  * (the reference pipeline's `ef_ingestion_etl/data_profiling.py:90-110`). Every
  * case runs against the test-side reference splitter AND the production
  * fused codec, whose recovered documents are its non-corrupt rows' `raw`
  * spans (the reference splitter emits no span for a failed parse). */
class ConcatJsonSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def typedDocs(blob: String): Seq[String] = {
    val session = spark
    import session.implicits._
    ConcatJson.decodeTyped(Seq(blob).toDS()).collect().filter(!_.corrupt).map(_.raw).toSeq
  }

  private val decoders: Seq[(String, String => Seq[String])] = Seq(
    "reference split" -> (ConcatJsonRef.split _),
    "decodeTyped" -> (typedDocs _))

  test("splits back-to-back documents with no delimiter") {
    for ((name, dec) <- decoders) {
      val docs = dec("""{"a":1}{"b":2}{"c":{"d":3}}""")
      assert(docs == Seq("""{"a":1}""", """{"b":2}""", """{"c":{"d":3}}"""), name)
    }
  }

  test("skips corrupt inter-document bytes") {
    for ((name, dec) <- decoders) {
      val docs = dec("""xx{"a":1}GARBAGE]){"b":2}""")
      assert(docs == Seq("""{"a":1}""", """{"b":2}"""), name)
    }
  }

  test("a stray unmatched '{' does not swallow later documents") {
    for ((name, dec) <- decoders) {
      val docs = dec(""" {[not-json {"a":1}{"b":2}""")
      assert(docs.contains("""{"a":1}""") && docs.contains("""{"b":2}"""), name)
    }
  }

  test("braces and quotes inside strings are not structural") {
    val d = """{"s":"}{\"{","t":"\\"}"""
    for ((name, dec) <- decoders) assert(dec(d + d) == Seq(d, d), name)
  }

  test("unterminated trailing object is dropped") {
    for ((name, dec) <- decoders)
      assert(dec("""{"a":1}{"b":""") == Seq("""{"a":1}"""), name)
  }

  test("empty and all-garbage input") {
    for ((name, dec) <- decoders) {
      assert(dec("").isEmpty, name)
      assert(dec("no json here ][ ").isEmpty, name)
    }
  }

  test("∀ fuzzed blobs: never crashes, recovers every intact document in order") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // garbage that cannot CONSUME a following document: no unpaired '{'
    // (a stray '{' directly before a doc is legitimately parsed together
    // with what follows by raw_decode semantics — the reference's cursor
    // loop does the same)
    val garbage = Gen.oneOf("", " ", "]}", " junk", "}}", "][ ", "null,",
      "GARBAGE)", "\"open string ")
    val doc = for {
      k <- Gen.alphaLowerStr.map(s => "k" + s.take(6))
      v <- Gen.oneOf(Gen.choose(-99, 99).map(_.toString),
        Gen.alphaNumStr.map(s => "\"" + s.take(10) + "\""),
        Gen.const("""{"n":{"x":[1,2]}}"""))
    } yield s"""{"$k":$v}"""
    val blob = for {
      docs <- Gen.listOfN(8, doc)
      seps <- Gen.listOfN(9, garbage)
    } yield (docs,
      seps.zipAll(docs, "", "").map { case (g, d) => g + d }.mkString)
    (1 to 50).foreach { i =>
      val (docs, s) = blob.pureApply(Gen.Parameters.default, Seed(i.toLong))
      for ((name, dec) <- decoders) {
        val out = dec(s)
        assert(docs.forall(out.contains), s"$name: seed $i lost a doc; in=$s out=$out")
        val recovered = out.filter(docs.contains)
        assert(recovered == docs.filter(out.contains),
          s"$name: seed $i order broken; in=$s out=$out")
      }
    }
  }
}
