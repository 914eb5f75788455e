package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApplier
import graft.lake.LakeTable
import graft.reference.ApplyRef

/** Property tests (SURVEY.md §5 plan item 4): for random small change
  * logs — ∀ in-batch row orderings and ∀ batch boundary choices, the
  * final lake state is invariant; applying twice ≡ once; salted reduce ≡
  * plain reduce for any salt count. */
case class PropEv(op: String, part: String, repo: String, path: String,
    commit: String, lang: String, content: String, seq: Long)

class LwwPropertySpec extends AnyFunSuite {

  /** Deterministic sampling (no scalatestplus bridge in the offline
    * cache): fixed seeds, one sample per seed. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genLog: Gen[List[PropEv]] = for {
    n <- Gen.choose(5, 60)
    evs <- Gen.listOfN(n, for {
      r <- Gen.choose(0, 4)
      p <- Gen.choose(0, 3)
      op <- Gen.frequency(6 -> "UPDATE", 2 -> "INSERT", 2 -> "DELETE")
      c <- Gen.hexStr.map(_.take(8).padTo(8, '0'))
      body <- Gen.alphaStr.map(_.take(12))
    } yield (op, r, p, c, body))
  } yield evs.zipWithIndex.map { case ((op, r, p, c, body), i) =>
    PropEv(op, (i % 3).toString, s"repo-$r", s"f$p", s"$c-$i", "scala",
      s"content-$body-$i", i.toLong)
  }

  private def finalState(evs: Seq[PropEv], batches: Seq[Seq[PropEv]]): Set[(String, String, String, String)] = {
    val lake = new LakeTable(TestSpark.tmpDir("prop"), spark)
    val applier = new CdcApplier(lake, spark)
    batches.zipWithIndex.foreach { case (b, i) =>
      if (b.nonEmpty) applier.applyBatch(b.toDF(), s"prop-$i")
    }
    lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
  }

  private def oracle(evs: Seq[PropEv]): Set[(String, String, String, String)] =
    evs.groupBy(e => (e.repo, e.path))
      .map { case (_, g) => g.maxBy(e => (e.seq, e.commit)) }
      .filter(_.op != "DELETE")
      .map(e => (e.repo, e.path, e.commit, e.content)).toSet

  test("∀ logs: single-batch apply matches the sequential oracle; idempotent") {
    samples(genLog, 6).foreach { evs =>
      {
        val lake = new LakeTable(TestSpark.tmpDir("prop1"), spark)
        val applier = new CdcApplier(lake, spark)
        applier.applyBatch(evs.toDF(), "b0")
        val v1 = lake.currentVersion.get
        applier.applyBatch(evs.toDF(), "b0") // exact replay → no-op
        assert(lake.currentVersion.get == v1)
        val got = lake.read().select($"repo", $"path", $"commit", $"content")
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
        assert(got == oracle(evs))
      }
    }
  }

  test("∀ logs and batch boundaries: final state is boundary-invariant") {
    samples(genLog.flatMap(e => Gen.choose(1, 5).map((e, _))), 5).foreach { case (evs, nb) =>
      {
        // contiguous seq-range batches (per-part monotone by construction)
        val per = evs.size / nb + 1
        val batches = evs.sortBy(_.seq).grouped(per).toSeq
        assert(finalState(evs, batches) == oracle(evs))
      }
    }
  }

  test("∀ logs and salt counts: salted reduce ≡ plain reduce") {
    samples(genLog.flatMap(e => Gen.oneOf(2, 7, 32).map((e, _))), 4).foreach { case (evs, salts) =>
      {
        val df = evs.toDF()
        val plain = ApplyRef.lwwReduce(df).collect().map(_.toSeq).toSet
        val salted = CdcApplier.saltedLwwReduce(df, salts).collect().map(_.toSeq).toSet
        assert(plain == salted)
      }
    }
  }
}
