package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApplier
import graft.lake.LakeTable
import graft.reference.{ApplyRef, LakeRef}

/** Property tests (SURVEY.md §5 plan item 4): for random small change
  * logs — ∀ in-batch row orderings and ∀ batch boundary choices, the
  * final lake state is invariant; applying twice ≡ once; salted reduce ≡
  * plain reduce for any salt count; merge-on-read delete resolution (one
  * anti-join) ≡ its aggregate reference form. */
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

  // merge-on-read version sets: few keys and a small (seq, commit) domain,
  // so ties, NULLs, several deletes per key and undeleted keys all occur
  private val genSeq: Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(0L, 5L).map(Some(_)))
  private val genCommit: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> Gen.oneOf("a", "b", "c").map(Some(_)))
  private val genKey: Gen[(String, Option[String])] = for {
    r <- Gen.choose(0, 2)
    p <- Gen.frequency(1 -> Gen.const(None), 8 -> Gen.choose(0, 1).map(i => Some(s"f$i")))
  } yield (s"repo-$r", p)
  private val genVersions: Gen[(List[Row], List[Row])] = for {
    nd <- Gen.choose(0, 30)
    data <- Gen.listOfN(nd, for { k <- genKey; s <- genSeq; c <- genCommit } yield (k, s, c))
    nx <- Gen.choose(0, 20)
    dels <- Gen.listOfN(nx, for { k <- genKey; s <- genSeq; c <- genCommit } yield (k, s, c))
  } yield (
    data.zipWithIndex.map { case (((r, p), s, c), i) =>
      Row(r, p.orNull, s.map(Long.box).orNull, c.orNull, s"row-$i") },
    dels.map { case ((r, p), s, c) => Row(r, p.orNull, s.map(Long.box).orNull, c.orNull) })

  test("∀ data/delete version sets: anti-join delete resolution ≡ aggregate reference") {
    val dataSchema = StructType(LakeTable.deleteSchema.fields :+ StructField("content", StringType))
    // (seq, commit) as a total order with NULL first, like Spark's struct order
    def ord(r: Row, s: Int): (Boolean, Long, Boolean, String) =
      (!r.isNullAt(s), if (r.isNullAt(s)) 0L else r.getLong(s),
        !r.isNullAt(s + 1), Option(r.getString(s + 1)).getOrElse(""))
    val seen = scala.collection.mutable.Set.empty[String]
    samples(genVersions, 40).foreach { case (data, dels) =>
      val byKey = dels.groupBy(d => (d.getString(0), d.getString(1)))
      data.filterNot(_.isNullAt(1)).foreach { r =>
        byKey.get((r.getString(0), r.getString(1))) match {
          case None => seen += "key without delete"
          case Some(ds) =>
            if (ds.size > 1) seen += "several deletes per key"
            if (ds.exists(d => ord(d, 2) == ord(r, 2))) seen += "(seq, commit) tie"
            if (ds.forall(d => Ordering[(Boolean, Long, Boolean, String)].lt(ord(d, 2), ord(r, 2))))
              seen += "deletes older than the data version"
        }
        if (r.isNullAt(2)) seen += "NULL seq"
        if (r.isNullAt(3)) seen += "NULL commit"
      }
      val d = spark.createDataFrame(java.util.Arrays.asList(data: _*), dataSchema)
      val x = spark.createDataFrame(java.util.Arrays.asList(dels: _*), LakeTable.deleteSchema)
      val want = LakeRef.undeleted(d, x).collect().map(_.toSeq).sortBy(_.last.toString).toSeq
      if (want.size < data.size) seen += "a row killed"
      def got = LakeTable.undeleted(d, x).collect().map(_.toSeq).sortBy(_.last.toString).toSeq
      // the broadcast probe and the shuffle join both keep exactly these rows
      assert(got == want, s"broadcast\ndata=$data\ndels=$dels")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try assert(got == want, s"shuffle\ndata=$data\ndels=$dels")
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(seen == Set("key without delete", "several deletes per key", "(seq, commit) tie",
      "deletes older than the data version", "NULL seq", "NULL commit", "a row killed"), seen)
  }
}
