package graft

/** Isolated-measurement support for [[Bench]]: each timed replay runs in
  * its own JVM so JIT state, GC debt, accumulated temp/shuffle state and
  * session history cannot leak between measurements (same-JVM sequential
  * sessions showed up to 5x order-dependent drift on this box). Inside
  * the subprocess the job still runs twice — warmup, then measured. */
object BenchIsolated {

  /** The parent JVM's own `--add-opens` flags (the launcher reports both
    * spellings as `--add-opens=…`): the child needs the same module
    * openings for Spark, and `build.sbt` stays their one definition. */
  private def addOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(_.startsWith("--add-opens"))
  }

  /** Run one warmup+measured replay in a fresh JVM; returns measured
    * seconds (parsed from the child's GRAFT_SECONDS line).
    *
    * Heap follows the EXECUTOR MODEL: ~3 GB per core, capped at 24 GB —
    * a real N→4N cluster scales memory with executors, so a scaling
    * pair measured with a FIXED heap at both core counts measures spill
    * and GC-pressure asymmetry (12 GB/core at 2c vs 3 GB/core at 8c),
    * not the plan's parallel efficiency. */
  def run(mode: String, path: String, n: Long, batches: Int, cpus: Int): Double = {
    import scala.sys.process._
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val heapG = math.min(math.max(3 * cpus, 6), 24)
    val cmd = Seq(java, s"-Xmx${heapG}g", "-XX:+UseG1GC") ++ addOpens ++ Seq(
      "-cp", cp, "graft.ScalingRunner",
      mode, path, n.toString, batches.toString, cpus.toString)
    val out = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(
      line => { out.append(line).append('\n'); () }, _ => ()))
    require(code == 0, s"isolated bench exited $code:\n${out.result().takeRight(2000)}")
    val line = out.result().linesIterator
      .find(_.startsWith("GRAFT_SECONDS="))
      .getOrElse(sys.error(s"no GRAFT_SECONDS in output:\n${out.result().takeRight(2000)}"))
    line.stripPrefix("GRAFT_SECONDS=").toDouble
  }
}

/** Child entry point: one warmup replay + one measured replay. */
object ScalingRunner {
  def main(args: Array[String]): Unit = {
    val Array(mode, path, nStr, batchesStr, cpusStr) = args
    val spark = Bench.session(cpusStr.toInt)
    // optional stage profile (GRAFT_STAGE_PROFILE=1): wall vs cpu per stage
    val profile = sys.env.get("GRAFT_STAGE_PROFILE").contains("1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
    if (profile) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s).getOrElse(-1L)
          stages.add((i.name.takeWhile(_ != '\n').take(60), i.numTasks,
            wall, i.taskMetrics.executorRunTime))
        }
      })
    val n = nStr.toLong
    val b = batchesStr.toInt
    def once(): Double = mode match {
      case "wire" => Bench.replayWire(spark, path, n, b)
      case "mor" => Bench.replay(spark, path, n, b, mor = true)
      case "decode" => // codec+validate only: the merge-free ceiling
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val t0 = System.nanoTime()
        val blobs = spark.read.parquet(path).select(col("blob")).as[String]
        val (clean, _) = graft.validate.Validate.routeObserved(
          CdcPipeline.resolveVariants(CdcPipeline.decode(blobs)))
        clean.count()
        (System.nanoTime() - t0) / 1e9
      case _ => Bench.replay(spark, path, n, b)
    }
    once() // warmup
    stages.clear()
    val sec = once()
    println(f"GRAFT_SECONDS=$sec%.3f")
    if (profile) {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._3).take(20).foreach { case (n, t, w, c) =>
        println(f"GRAFT_STAGE wall=${w}%6dms cpu=${c}%7dms tasks=$t%3d  $n")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
