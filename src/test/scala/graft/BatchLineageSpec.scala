package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.{CdcApplier, IncrementalView}
import graft.lake.LakeTable
import graft.validate.Validate

/** A batch's validation counts come from its own plan: through the wire
  * path, each commit's `parsed`, `quarantined` and `rule.*` lineage equal
  * a direct count over the same decoded input, annotated by
  * [[Validate.annotate]] or, with a rule registry, as
  * [[Validate.routeByClass]] annotates it.
  * And the apply path and the jobs that maintain a lake register nothing
  * in the session's cache. */
class BatchLineageSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One wire document for event `seq`, with its known violations: every
    * 11th upsert lacks content, every 13th names a wrong source, every
    * 17th has no `part`, every 19th is corrupt (a doubled comma); every
    * 5th is a delete and every 23rd uses the v1 `commit_lang` variant. */
  private def doc(seq: Long): String = {
    val v1 = seq % 23 == 0
    val fields = Seq(
      "event_id" -> Some(s"ev-$seq"),
      "op" -> Some(if (seq % 5 == 0) "DELETE" else "UPDATE"),
      "repo" -> Some(s"r${seq % 7}"),
      "path" -> Some(s"p$seq"),
      "commit" -> Option.when(!v1)(s"c$seq"),
      "lang" -> Option.when(!v1)("scala"),
      "commit_lang" -> Option.when(v1)(s"c$seq#python"),
      "content" -> Option.when(seq % 11 != 0)(s"body-$seq"),
      "schema_ver" -> Some(if (v1) "v1" else "v2"),
      "source" -> Some(if (seq % 13 == 0) "other.system" else "app.change.log"),
      "part" -> Option.when(seq % 17 != 0)((seq % 3).toString))
    val json = (s""""seq":$seq""" +: fields.collect { case (k, Some(v)) => s""""$k":"$v"""" })
      .mkString("{", ",", "}")
    if (seq % 19 == 0) json.replaceFirst(",", ",,") else json
  }

  /** Blobs of 25 concatenated documents each. */
  private def blobsOf(seqs: Seq[Long]): Dataset[String] =
    seqs.grouped(25).map(_.map(doc).mkString).toSeq.toDS()

  /** The validation counters of annotated rows, counted directly: no
    * observation, one aggregate over the rows' `errors`. */
  private def countsOf(annotated: DataFrame, rules: Seq[Validate.Rule]): Map[String, Long] = {
    val keys = Seq("parsed", "quarantined") ++ rules.map(r => s"rule.${r.name}")
    val row = annotated.agg(count(lit(1)), sum(when(size($"errors") > 0, 1L).otherwise(0L)) +:
      rules.map(r => sum(when(array_contains($"errors", r.name), 1L).otherwise(0L))): _*).head()
    keys.zipWithIndex.map { case (k, i) => k -> row.getLong(i) }.toMap
  }

  /** [[countsOf]] a decoded batch under the global rule set. */
  private def directCounts(blobs: Dataset[String]): Map[String, Long] =
    countsOf(Validate.annotate(CdcPipeline.resolveVariants(CdcPipeline.decode(blobs))),
      Validate.changeEventRules)

  private def counters(s: LakeTable#Snapshot): Map[String, Long] = s.lineage.filter {
    case (k, _) => k == "parsed" || k == "quarantined" || k.startsWith("rule.") }

  test("wire path: each commit's validation counts equal a direct count over Validate.annotate") {
    val first = blobsOf(1L to 400L)
    val second = blobsOf(401L to 700L)
    Seq(false, true).foreach { mor =>
      val lake = new LakeTable(TestSpark.tmpDir("lineagewire"), spark)
      Seq("w-0" -> first, "w-1" -> second).foreach { case (id, blobs) =>
        val before = lake.currentVersion
        CdcPipeline.processBlobs(spark, blobs, lake, id, mergeOnRead = mor)
        val v = lake.currentVersion.get
        assert(before.forall(_ < v), s"$id committed no version, mergeOnRead = $mor")
        // the second batch's counts are its own, not a running total
        assert(counters(lake.snapshot(v)) == directCounts(blobs), s"$id, mergeOnRead = $mor")
      }
      // the planted violations show, and a rule nothing violates commits
      // a 0. The codec emits a corrupt document as one corrupt row, so it
      // counts both as parsed and as `corrupt_json`; it violates no other
      // rule, so the field rules count parsed documents only.
      val c = counters(lake.currentSnapshot.get)
      Seq("missing_content", "wrong_source", "missing_part")
        .foreach(r => assert(c(s"rule.$r") > 0, r))
      assert(c("parsed") == 300L)
      assert(c("rule.corrupt_json") == (401L to 700L).count(_ % 19 == 0))
      assert(c("rule.negative_seq") == 0 && c("rule.missing_event_id") == 0)
      // a fenced re-delivery commits no version
      val v = lake.currentVersion
      CdcPipeline.processBlobs(spark, second, lake, "w-1-again", mergeOnRead = mor)
      assert(lake.currentVersion == v, s"mergeOnRead = $mor")
    }
  }

  test("registry wire path: each commit's validation counts equal a direct count over the same annotated input") {
    val reg = Validate.defaultRegistry()
    val lake = new LakeTable(TestSpark.tmpDir("lineagereg"), spark)
    Seq("g-0" -> blobsOf(1L to 400L), "g-1" -> blobsOf(401L to 700L)).foreach { case (id, blobs) =>
      CdcPipeline.processBlobs(spark, blobs, lake, id, registry = Some(reg))
      // the registry validates the raw wire shape: envelope rules plus
      // the event's class rules, as `Validate.routeByClass` annotates it
      val annotated = CdcPipeline.decode(blobs).withColumn("errors", reg.errorsFor(Validate.classKey))
      assert(counters(lake.currentSnapshot.get) == countsOf(annotated, Validate.envelopeRules), id)
    }
    val c = counters(lake.currentSnapshot.get)
    assert(c("parsed") == 300L && c("quarantined") > 0)
    assert(c("rule.corrupt_json") == (401L to 700L).count(_ % 19 == 0))
    assert(c("rule.missing_event_id") == 0)
    assert(lake.lineageTable().filter($"parsed" < 0 || $"quarantined" < 0).isEmpty)
  }

  /** `n` upserts on part "0".."3" of distinct keys, seq from `seqBase`. */
  private def upserts(n: Long, seqBase: Long, tag: String): DataFrame =
    spark.range(n).select(lit("UPDATE").as("op"), ($"id" % 4).cast("string").as("part"),
      format_string("nc%04d", $"id" % 1000).as("repo"),
      concat(lit("p"), ($"id" / 1000).cast("long").cast("string")).as("path"),
      concat(lit(s"c$tag-"), $"id".cast("string")).as("commit"), lit("scala").as("lang"),
      concat(lit(s"body-$tag-"), $"id".cast("string")).as("content"),
      ($"id" + seqBase).as("seq"))

  test("nothing stays in the session cache: apply, re-delivery, delete consolidation, view maintenance") {
    def assertNoCache(after: String): Unit =
      assert(spark.sharedState.cacheManager.isEmpty, s"a cache entry is left after $after")

    // applyBatch in both merge modes, then a fenced re-delivery
    Seq(false, true).foreach { mor =>
      val lake = new LakeTable(TestSpark.tmpDir("nocache"), spark)
      val app = new CdcApplier(lake, spark, mergeOnRead = mor)
      app.applyBatch(upserts(2000, 0, "a"), "nc-0")
      assertNoCache(s"the first batch, mergeOnRead = $mor")
      val churn = upserts(500, 10000, "b")
      app.applyBatch(churn, "nc-1")
      assertNoCache(s"a batch that merges touched files, mergeOnRead = $mor")
      val v = lake.currentVersion
      app.applyBatch(churn, "nc-1")
      assert(lake.currentVersion == v)
      assertNoCache(s"a fenced re-delivery, mergeOnRead = $mor")
    }

    // consolidateDeletes, gathered and above SmallWriteRows (the
    // range-clustered write samples its input)
    Seq(300L, LakeTable.SmallWriteRows / 2 + 10000).foreach { n =>
      val lake = new LakeTable(TestSpark.tmpDir("nocachedel"), spark)
      val app = new CdcApplier(lake, spark, mergeOnRead = true)
      (0 until 3).foreach(b => app.applyBatch(upserts(n, b * 1000000L, s"d$b"), s"ncd-$b"))
      val entries = lake.currentSnapshot.get.deleteFiles.map(_.rows).sum
      assert(entries == 2 * n && LakeTable.isSmall(entries) == (n == 300L))
      assert(lake.consolidateDeletes().nonEmpty)
      assertNoCache(s"consolidateDeletes over $entries entries")
      assert(lake.read().count() == n)
    }

    // IncrementalView.maintain
    val src = new LakeTable(TestSpark.tmpDir("nocachesrc"), spark)
    val srcApp = new CdcApplier(src, spark)
    val viewApp = new CdcApplier(new LakeTable(TestSpark.tmpDir("nocacheview"), spark), spark)
    val view = new IncrementalView(Seq("repo", "lang"),
      Seq("total_len" -> length(col("content")).cast("long")))
    srcApp.applyBatch(upserts(2000, 0, "a"), "ncv-0")
    view.initialize(viewApp, src.read(Some(0L)), "view-0", seq = 1L)
    srcApp.applyBatch(upserts(700, 10000, "b"), "ncv-1")
    view.maintain(viewApp, src.changeFeed(0L, 1L), "view-1", seq = 2L)
    assertNoCache("IncrementalView.maintain")
    val got = view.read(viewApp.lake)
    val want = view.full(src.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
