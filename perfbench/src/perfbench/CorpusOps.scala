package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

import graft.ops.OpCaches
import graft.queries.TrainingData

/** Seeded training corpus in the shape of the `sf0.1` test corpus the
  * `TrainingData` queries are checked on (measured shape in
  * perfbench/README.md): `documents(doc_id, text, lang, source, n_chars)`
  * of 10–100 words drawn uniformly from a 30-word vocabulary, with one
  * document in 20 a near duplicate (another document's text plus " dup";
  * two near duplicates of one document are exact duplicates of each
  * other), and `embeddings(vec_id, embedding float[64], label)` of
  * isotropic unit vectors with ten uniform labels. */
object Corpus {
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  // en 40%, zh, es, fr and de 15% each
  private val langs = Seq.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Seq.fill(3)(_))

  def write(spark: SparkSession, dir: Path, seed: Long, docs: Int, vecs: Int): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val base = Array.fill(docs)(
      Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // exactly docs / 20 near duplicates at seeded positions, so every seed
    // plants the same number of them
    val order = Array.range(0, docs)
    for (i <- docs - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val nearDup = order.take(docs / 20).toSet
    val docRows = (0 until docs).map { i =>
      val text = if (nearDup(i)) base(rnd.nextInt(docs)) + " dup" else base(i)
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val vecRows = (0 until vecs).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
  }
}

/** The `TrainingData` queries named in `Layers.opsQueries` over a seeded
  * corpus, each forced with a `noop` write. One step is one pass over
  * them. Every pass reads its own copy of the corpus, so no memo keyed by
  * (session, path), such as the q17 pair cache, can serve a timed query;
  * a timed query that runs zero Spark jobs is reported as a memo hit and
  * fails the run. The warm pass, and one more untimed pass after the timed
  * region, write each result as parquet, which the runner checks against
  * the query's DuckDB oracle. */
final class CorpusOps(r: Run) extends Workload(r) {
  // the row counts of sf0.1
  private val docs = 5000
  private val vecs = 2000
  private val maxPasses = 8

  private var root: Path = _
  private var pass = 0
  /** Per timed pass: traced or not, wall ms per query, process CPU ms. */
  private val passes = mutable.ArrayBuffer.empty[(Boolean, Map[String, Double], Double)]
  private val plansExchanges = mutable.ArrayBuffer.empty[Int]

  private val queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Layers.opsQueries.map(q => q -> TrainingData.all(q))

  def prepare(dir: Path): Unit = {
    root = dir
    val base = dir.resolve("corpus")
    Corpus.write(spark, base, seed, docs, vecs)
    (0 to maxPasses + 1).foreach { p =>
      val d = dir.resolve(s"pass-$p")
      Seq("documents.parquet", "embeddings.parquet").foreach { t =>
        copyDir(base.resolve(t), d.resolve(t))
      }
    }
    pass = 0
  }

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(f => Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    finally s.close()
  }

  /** Exchanges in an executed plan, descending into AQE query stages. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }

  /** One untimed pass over the copy `pass-<p>` that writes each result as
    * parquet under `out` for the runner's oracle check. */
  private def writeResults(p: Int, out: Path): Unit =
    queries.foreach { case (name, q) =>
      q(spark, root.resolve(s"pass-$p").toString)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
      OpCaches.unpersistAll(spark)
    }

  private val resultDirs = Seq("warm", "after").map(n => r.dir(s"corpus-results-$n"))

  def warm(): Unit = {
    writeResults(0, resultDirs.head)
    r.extra.put("corpus_dir", root.resolve("corpus").toString)
    r.extra.put("results_dirs", resultDirs.map(_.toString).asJava)
    val sql = new java.util.LinkedHashMap[String, Object]()
    queries.foreach { case (name, _) => sql.put(name, TrainingData.oracles(name)) }
    r.extra.put("oracle_sql", sql)
    pass = 1
  }

  def hasNext: Boolean = pass <= maxPasses

  def step(i: Int): Double = {
    val dir = root.resolve(s"pass-$pass").toString
    pass += 1
    var memoHit = false
    var total = 0.0
    var cpu = 0.0
    val times = mutable.LinkedHashMap.empty[String, Double]
    queries.foreach { case (name, q) =>
      r.tracer.drain()
      val jobs0 = r.tracer.jobsStarted.get()
      val (df, ms) = r.timed(name, s"TrainingData.$name") {
        val df = q(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      r.tracer.drain()
      if (r.tracer.jobsStarted.get() == jobs0) {
        memoHit = true
        r.failures += s"memo hit: $name ran no Spark job"
      }
      if (r.tracer.on) plansExchanges += exchanges(df.queryExecution.executedPlan)
      OpCaches.unpersistAll(spark)
      times(name) = ms
      total += ms
      cpu += r.cpuOf(name).last
    }
    r.check(s"pass ${pass - 1}: every query ran Spark jobs", !memoHit)
    passes += ((r.tracer.on, times.toMap, cpu))
    total
  }

  def offeredRows: Long = passes.size.toLong * queries.size * (docs + vecs)

  /** One pass: every query once. */
  def stepKinds: Seq[(String, Double)] = queries.map(_._1 -> 1.0)
  def minSteps: Int = 2
  def rowsPerStep: Double = queries.size * (docs + vecs)

  /** Results of a pass after the timed ones, on its own copy of the
    * corpus; the runner checks them, as the warm pass's, in DuckDB. */
  def verify(): Unit = writeResults(maxPasses + 1, resultDirs(1))

  def finish(): Unit = {
    val pass = queries.map { case (name, _) => Stats.median(r.sampleOf(name)) }.sum
    r.report += f"metric ops_pass_s ${pass / 1000}%.4f s n=${passes.size}"
    val qs = queries.flatMap { case (name, _) => r.sampleOf(name) }
    r.report += f"metric query_p50_ms ${Stats.median(qs)}%.3f ms n=${qs.size}"
    val traced = passes.filter(_._1).toSeq
    if (traced.nonEmpty) {
      Layers.opsQueries.foreach { q =>
        r.layer(s"ops.${q}_s") = Stats.median(traced.map(_._2(q))) / 1000
      }
      val ws = r.tracer.spans.filter(_.name.startsWith("TrainingData.")).map(r.tracer.workFor).toSeq
      r.layer("ops.exchanges") = plansExchanges.sum.toDouble / traced.size
      r.layer("ops.shuffle_write_bytes") = ws.map(_.shuffleWrite).sum.toDouble / traced.size
      r.layer("ops.cpu_ms") = ws.map(_.cpuNs).sum / 1e6 / traced.size
      // the kernels' share of a pass: task CPU over the process CPU
      // (JIT excluded) of the same passes
      r.layer("ops.executor_cpu_frac") = r.layer("ops.cpu_ms") / Stats.mean(traced.map(_._3))
    }
  }
}
