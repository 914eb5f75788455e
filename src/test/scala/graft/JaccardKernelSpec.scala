package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{TextAnalysis, TextKernels}
import graft.reference.{DedupRef, TextAnalysisRef}

/** Property tests for the packed shingle layout and the Jaccard kernel
  * (q16, q17's verify): over generated text pairs, the kernel's Jaccard
  * equals the Column form over the reference shingle sets, with
  * `spark.sql.ansi.enabled` on and off, and the layout decodes to exactly
  * the reference shingle set. */
class JaccardKernelSpec extends AnyFunSuite {

  /** Deterministic sampling, as in LwwPropertySpec: fixed seeds. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  lazy val spark = TestSpark.spark

  /** Text pieces by class; a surrogate pair is one piece, so generated
    * text never splits one. */
  private val alphabets: Seq[Seq[String]] = Seq(
    Seq("a", "b", " ", "c"),                          // ASCII, much overlap
    Seq("\u00E9", "\u00EF", "\u00FF", "e", " "),      // Latin-1
    Seq("\u0FFE", "\u0FFF", "\u1000", "\u1001", "a"), // the pack boundary
    Seq("\uD83D\uDE00", "\uD835\uDC00", "a", " "),    // surrogate pairs
    Seq("\u4E00", "\u4E8C", "\u4E09", "a"),           // CJK
    Seq(" ", "\t", "\n"),                             // whitespace only
    Seq("\u0000", "a", "\u0001"))                     // U+0000 in a code

  private val genText: Gen[String] = for {
    alpha <- Gen.oneOf(alphabets :+ alphabets.flatten)
    n <- Gen.frequency(3 -> Gen.choose(0, 4), 5 -> Gen.choose(5, 40))
    pieces <- Gen.listOfN(n, Gen.oneOf(alpha))
  } yield pieces.mkString

  /** A pair of texts: unrelated, one an edit of the other, equal, or
    * with a NULL side. */
  private val genPair: Gen[(Option[String], Option[String])] = for {
    a <- genText
    b <- Gen.frequency(
      3 -> genText,
      4 -> genText.map(x => a.take(a.length / 2) + x),
      1 -> Gen.const(a))
    shape <- Gen.frequency(10 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
  } yield shape match {
    case 0 => (Some(a), Some(b))
    case 1 => (None, Some(b))
    case 2 => (Some(a), None)
    case _ => (None, None)
  }

  private val pairs = samples(genPair, 300).zipWithIndex.map { case ((a, b), i) =>
    (i.toLong, a, b)
  }

  test("packed shingle layout decodes to the reference shingle set, sorted and distinct") {
    import spark.implicits._
    val df = pairs.map(p => (p._1, p._2)).toDF("id", "t")
    Seq(1, 3, 5, 7).foreach { k =>
      val ref = df.select($"id", TextAnalysisRef.shingles($"t", k).as("sh")).collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toSet)).toMap
      val ker = TextAnalysis.shingleTable(df, "id", "t", k).collect().map { r =>
        val codes = Option(r.getSeq[Long](1))
        val wide = Option(r.getSeq[String](2))
        assert(codes.isDefined == wide.isDefined, s"k=$k id=${r.getLong(0)}: half a NULL set")
        codes.foreach(c => assert(c.zip(c.drop(1)).forall { case (x, y) => x < y },
          s"k=$k: codes not sorted distinct: $c"))
        wide.foreach(w => assert(w.zip(w.drop(1)).forall { case (x, y) => x < y },
          s"k=$k: wide not sorted distinct: $w"))
        codes.foreach(c => assert(c.forall(_ >= 0), s"k=$k: negative code in $c"))
        r.getLong(0) -> codes.map(c => TextAnalysisRef.decodeShingles(c, wide.get).toSet)
      }.toMap
      pairs.foreach { case (id, t, _) =>
        assert(ker(id) == ref(id), s"k=$k text=${t.map(_.map(_.toInt))}")
      }
    }
  }

  test("Jaccard kernel equals the Column form over reference shingles, ANSI on and off") {
    Seq(true, false).foreach { ansi =>
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      import s.implicits._
      val df = pairs.toDF("id", "ta", "tb")
      Seq(3, 5, 7).foreach { k =>
        val ref = df.select($"id",
            DedupRef.jaccard(TextAnalysisRef.shingles($"ta", k), TextAnalysisRef.shingles($"tb", k)))
          .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
        val sa = TextAnalysis.shingleTable(df, "id", "ta", k)
          .select($"id".as("id_a"), $"codes".as("codes_a"), $"wide".as("wide_a"))
        val sb = TextAnalysis.shingleTable(df, "id", "tb", k)
          .select($"id".as("id_b"), $"codes".as("codes_b"), $"wide".as("wide_b"))
        val ker = TextAnalysis.shingleJaccard(sa.join(sb, $"id_a" === $"id_b"))
          .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
        assert(ker.size == pairs.size)
        pairs.foreach { case (id, a, b) =>
          assert(ker(id) == ref(id), s"ansi=$ansi k=$k a=$a b=$b")
        }
        // a NULL side: NULL under ANSI, −1/−1 = 1.0 without it
        val nullPair = pairs.find(p => p._2.isEmpty).get._1
        assert(ker(nullPair) == (if (ansi) None else Some(1.0)))
      }
    }
  }

  test("Jaccard kernel on two empty sets divides 0 by 0 as the Column form does") {
    Seq(true, false).foreach { ansi =>
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      import s.implicits._
      val empty = Seq((1L, Seq.empty[String], Seq.empty[String])).toDF("id", "a", "b")
      val conf = s.sessionState.conf
      def kernel = TextKernels.jaccard(Array.empty, Array.empty, Array.empty, Array.empty,
        conf.legacySizeOfNull, conf.ansiEnabled)
      if (ansi) {
        val ref = intercept[SparkThrowable](
          empty.select(DedupRef.jaccard($"a", $"b")).collect())
        assert(intercept[ArithmeticException](kernel).getMessage.contains(ref.getCondition))
      } else {
        assert(empty.select(DedupRef.jaccard($"a", $"b")).head().isNullAt(0))
        assert(kernel.isEmpty)
      }
    }
  }
}
