package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command line of one benchmark JVM (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, work: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, Paths.get(need("work")).toAbsolutePath)
  }
}

/** Per-run state shared by the workloads: the tracer, the latency samples
  * of every timed call kind, the pass/fail tally and the metrics. */
final class Run(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(spark)
  val rng = new scala.util.Random(args.seed)

  /** Timed-call latencies in ms, by kind (`commit`, `lookup`, ...). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Process CPU outside the JIT compiler threads consumed during each
    * timed call, in ms. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU of the GC threads during each timed call, in ms (shown beside
    * the samples; already inside `cpuSamples`). */
  val gcSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Step latencies in ms, with whether the step was traced. */
  val steps = mutable.ArrayBuffer.empty[(Double, Boolean)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.ArrayBuffer.empty[String]
  val extra = new java.util.LinkedHashMap[String, Object]()

  def dir(name: String): Path = args.work.resolve(name)

  /** Time one call into a layer: recorded under `kind` and, when the
    * current step is traced, as a span named `span`. */
  def timed[T](kind: String, span: String)(body: => T): (T, Double) = {
    val (j0, g0) = Jvm.serviceCpuNs
    val c0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    val out = tracer.span(span)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    val c1 = Jvm.cpuNs
    val (j1, g1) = Jvm.serviceCpuNs
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    cpuSamples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (c1 - c0 - (j1 - j0)) / 1e6
    gcSamples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (g1 - g0) / 1e6
    (out, ms)
  }

  def sampleOf(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def cpuOf(kind: String): Seq[Double] = cpuSamples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Count one checked operation; a false `ok` is a failure. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A workload: seeded inputs, an untimed warm pass, a closed loop of
  * timed steps, and a correctness check outside the timed region. */
abstract class Workload(val r: Run) {
  def spark: SparkSession = r.spark
  def seed: Long = r.args.seed

  /** Generate inputs (and seed tables) under `dir`; the last call wins. */
  def prepare(dir: Path): Unit
  def warm(): Unit
  /** False once the prepared inputs are used up. */
  def hasNext: Boolean
  /** One closed-loop step; returns the ms spent inside timed calls. */
  def step(i: Int): Double
  /** Offered input rows so far in the timed region. */
  def offeredRows: Long
  /** The call kinds of one typical step, each with the number of calls a
    * step makes on average, and the input rows a step takes. */
  def stepKinds: Seq[(String, Double)]
  def rowsPerStep: Double
  def verify(): Unit
  /** Fill the workload's report lines and per-layer metrics. */
  def finish(): Unit
  /** The timed region runs at least this many steps. */
  def minSteps: Int
}

object Main {
  def session(cpus: Int, work: Path): SparkSession = {
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    var spark: SparkSession = null
    val sessionTimes = measure {
      spark = session(a.cpus, a.work)
      spark.sparkContext.setLogLevel("WARN")
      spark.range(1000).selectExpr("sum(id)").collect()
    }
    val r = new Run(spark, a)
    val wl: Workload = a.workload match {
      case "mor_mixed" => new MorMixed(r)
      case "corpus_ops" => new CorpusOps(r)
      case other => sys.error(s"unknown workload $other")
    }
    try execute(r, wl, sessionTimes)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        r.attempted += 1
        r.failed += 1
        r.failures += s"exception: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    writeResult(r, a.work.resolve("result.json"))
    spark.stop()
  }

  /** Wall seconds and process CPU seconds of `body`. */
  private def measure(body: => Unit): (Double, Double) = {
    val t = System.nanoTime()
    val c = Jvm.cpuNs
    body
    ((System.nanoTime() - t) / 1e9, (Jvm.cpuNs - c) / 1e9)
  }

  private def execute(r: Run, wl: Workload, session: (Double, Double)): Unit = {
    val prep = measure(wl.prepare(r.dir("inputs")))
    val warm = measure(wl.warm())
    r.samples.clear()
    r.cpuSamples.clear()
    r.gcSamples.clear()
    r.e2e("setup_s") = session._2 + prep._2 + warm._2
    r.report += f"setup: session ${session._1}%.3f s, prepare ${prep._1}%.3f s, warm pass " +
      f"${warm._1}%.3f s wall; ${r.e2e("setup_s")}%.3f s cpu"

    val gc0 = Jvm.gcMs
    Jvm.resetHeapPeak()
    val start = System.nanoTime()
    val deadline = start + r.args.seconds * 1000000000L
    var i = 0
    var timedMs = 0.0
    // samples per kind taken by the first `minSteps` steps
    var prefix = Map.empty[String, Int]
    while ((System.nanoTime() < deadline || i < wl.minSteps) && wl.hasNext) {
      r.tracer.on = r.args.trace && i % 2 == 0
      val ms = wl.step(i)
      r.steps += ((ms, r.tracer.on))
      timedMs += ms
      i += 1
      if (i == wl.minSteps) prefix = r.cpuSamples.map { case (k, v) => k -> v.size }.toMap
    }
    if (i < wl.minSteps) prefix = r.cpuSamples.map { case (k, v) => k -> v.size }.toMap
    r.tracer.on = false
    val wallS = (System.nanoTime() - start) / 1e9
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb
    r.tracer.drain()
    if (i == 0) r.check("no step completed in the timed region", ok = false)
    if (!wl.hasNext) r.report += "note: prepared inputs ran out before --seconds elapsed"

    r.report += f"timed region: ${r.steps.size} steps in ${wallS}%.3f s wall, ${timedMs / 1000}%.3f s " +
      f"inside timed calls, ${wl.offeredRows} rows offered"
    r.samples.foreach { case (k, xs) =>
      r.report += s"samples $k (ms wall/cpu/gc-cpu): " +
        xs.indices.map(i => f"${xs(i)}%.0f/${r.cpuOf(k)(i)}%.0f/${r.gcSamples(k)(i)}%.0f")
          .mkString(" ") }
    // a typical step: each of its call kinds at its median, times the
    // calls a step makes. The guarded CPU figure takes the samples of the
    // first `minSteps` steps, the same sequence of work in every run.
    val stepCpu = wl.stepKinds.map { case (k, w) =>
      w * Stats.median(r.cpuOf(k).take(prefix.getOrElse(k, 0)))
    }.sum
    r.report += "step_cpu_ms from the first steps: " + wl.stepKinds.map { case (k, w) =>
      f"$k ${prefix.getOrElse(k, 0)} x $w%.3f" }.mkString(", ")
    r.e2e("step_cpu_ms") = stepCpu

    val stepMs = wl.stepKinds.map { case (k, w) => w * Stats.median(r.sampleOf(k)) }.sum
    val samples = wl.stepKinds.map(k => r.sampleOf(k._1).size).min
    r.report += f"metric step_ms $stepMs%.3f ms n=$samples"
    r.report += f"metric rows_per_s ${wl.rowsPerStep * 1000 / stepMs}%.1f 1/s n=$samples"
    r.report += f"metric peak_rss_mb ${Jvm.peakRssMb}%.1f MB n=1"
    r.report += f"metric setup_wall_s ${session._1 + prep._1 + warm._1}%.3f s n=1"

    wl.finish()
    Layers.names.foreach(n => if (!r.layer.contains(n)) r.layer(n) = 0.0)
    r.layer("jvm.gc_ms") = gcMs.toDouble
    r.layer("jvm.heap_used_peak_mb") = heapPeak
    if (r.args.trace) {
      val tr = r.steps.filter(_._2).map(_._1).toSeq
      val un = r.steps.filterNot(_._2).map(_._1).toSeq
      if (tr.nonEmpty && un.nonEmpty)
        r.layer("trace.overhead_frac") = Stats.median(tr) / Stats.median(un) - 1.0
      r.report += f"trace overhead: traced step p50 ${Stats.median(tr)}%.1f ms (n=${tr.size}) vs " +
        f"untraced ${Stats.median(un)}%.1f ms (n=${un.size})"
      r.tracer.write(r.dir("spans.jsonl"))
    }
    wl.verify()
  }

  private def writeResult(r: Run, path: Path): Unit = {
    val m = new java.util.LinkedHashMap[String, Object]()
    def jmap(xs: Iterable[(String, Double)]) = {
      val o = new java.util.LinkedHashMap[String, Object]()
      xs.foreach { case (k, v) => o.put(k, Double.box(v)) }
      o
    }
    m.put("attempted", Long.box(r.attempted))
    m.put("failed", Long.box(r.failed))
    m.put("failures", r.failures.toList.asJava)
    m.put("e2e", jmap(r.e2e))
    m.put("layer", jmap(r.layer))
    m.put("report", r.report.toList.asJava)
    m.put("extra", r.extra)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValue(path.toFile, m)
  }
}

/** Shared pieces: the independent LWW oracle and byte accounting. */
object Common {
  val canonicalCols = Seq("op", "part", "repo", "path", "commit", "lang", "content", "seq")

  /** Expected final table: last-writer-wins per (repo, path) by
    * (seq, commit), dropping keys whose winner is a DELETE — computed
    * with plain Spark aggregates, independently of the engine. */
  def lww(events: DataFrame): DataFrame =
    events.groupBy(col("repo"), col("path"))
      .agg(max_by(struct(col("op"), col("commit"), col("lang"), col("content"), col("seq")),
        struct(col("seq"), col("commit"))).as("w"))
      .filter(col("w.op") =!= "DELETE")
      .select(col("repo"), col("path"), col("w.commit").as("commit"),
        col("w.lang").as("lang"), col("w.content").as("content"), col("w.seq").as("seq"))

  /** The compared shape: (repo, path, commit, lang, sha2(content, 256)). */
  def canon(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"))

  /** Multiset equality of two canonical frames. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Logical size of change events: the UTF-8 bytes of their string
    * fields plus 8 for `seq` — the denominator of write amplification. */
  val eventBytes = Seq("op", "part", "repo", "path", "commit", "lang", "content")
    .map(c => coalesce(octet_length(col(c)), lit(0))).reduce(_ + _) + lit(8)

  /** Files under a lake root, split into data and metadata, by size. */
  def lakeFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

}

/** Per-layer numbers of the apply path, read from its spans. */
object ApplyLayer {
  def fill(r: Run, spans: Seq[Span], events: Long): Unit = if (spans.nonEmpty) {
    val ws = spans.map(s => (s, r.tracer.workFor(s)))
    val n = spans.size.toDouble
    r.layer("apply.jobs_per_batch") = ws.map(_._2.jobs).sum / n
    r.layer("apply.stages_per_batch") = ws.map(_._2.stages).sum / n
    r.layer("apply.tasks_per_batch") = ws.map(_._2.tasks).sum / n
    r.layer("apply.job_busy_ms") = Stats.median(ws.map { case (s, w) => w.busyMs(s) })
    r.layer("apply.driver_gap_ms") = Stats.median(ws.map { case (s, w) => s.ms - w.busyMs(s) })
    r.layer("apply.cpu_ms_per_mevent") =
      ws.map(_._2.cpuNs).sum / 1e6 / math.max(1L, events) * 1e6
    r.layer("apply.shuffle_write_bytes") = ws.map(_._2.shuffleWrite).sum / n
    r.layer("apply.gc_ms") = ws.map(_._2.gcMs).sum / n
    r.layer("apply.spill_bytes") = ws.map(_._2.spill).sum / n
  }
}

/** Tracks the bytes a lake writes, by diffing its directory between calls
  * (from outside the engine; run outside the timed calls). */
final class LakeBytes(root: String) {
  private var seen = Common.lakeFiles(root)
  /** (data bytes, metadata bytes) written since the last call. */
  def delta(): (Long, Long) = {
    val now = Common.lakeFiles(root)
    val fresh = now.filter { case (k, _) => !seen.contains(k) }
    seen = now
    val (meta, data) = fresh.partition(_._1.startsWith("meta"))
    (data.values.sum, meta.values.sum)
  }
}

/** Every per-layer metric name, in report order. Each workload fills the
  * ones its layers reach; the rest report 0 (the layer is not called). */
object Layers {
  /** The `TrainingData` queries `corpus_ops` runs: one per kernel family
    * (exact dedup, shingle Jaccard, MinHash-LSH, SimHash, quantized ANN,
    * HLL sketch). */
  val opsQueries: Seq[String] = Seq(
    "q11_dedup_exact", "q16_ngram_jaccard", "q17_minhash_lsh", "q18_simhash",
    "q19_ann_quantized", "q34_hll_distinct")

  val names: Seq[String] = Seq(
    "streaming.trigger_ms", "streaming.overhead_ms",
    "apply.jobs_per_batch", "apply.stages_per_batch", "apply.tasks_per_batch",
    "apply.driver_gap_ms", "apply.job_busy_ms",
    "apply.cpu_ms_per_mevent", "apply.shuffle_write_bytes", "apply.wire_self_ms_per_mevent",
    "apply.gc_ms", "apply.spill_bytes", "jvm.gc_ms", "jvm.heap_used_peak_mb",
    "apply.files_touched", "apply.rows_rewritten_per_event", "apply.fenced_frac",
    "lake.data_bytes_written", "lake.meta_bytes_written",
    "lake.write_amplification", "lake.stored_bytes_per_live_row",
    "lake.live_files", "lake.delete_files", "lake.manifest_chunks",
    "lake.lookup_ms", "lake.lookup_jobs", "lake.lookup_files_scanned_frac",
    "lake.poll_ms", "lake.poll_files_scanned_frac",
    "lake.maintain_ms", "lake.maintain_commits", "lake.maintain_bytes_rewritten",
    "lake.expire_ms",
    "sources.plan_ms", "sources.scan_ms", "sources.scan_jobs",
    "codec.decode_ms_per_mevent", "codec.docs_out", "codec.corrupt_frac",
    "validate.route_ms_per_mevent", "validate.quarantined_frac") ++
    opsQueries.map(q => s"ops.${q}_s") ++
    Seq("ops.exchanges", "ops.shuffle_write_bytes", "ops.cpu_ms", "ops.executor_cpu_frac",
      "trace.overhead_frac")
}
