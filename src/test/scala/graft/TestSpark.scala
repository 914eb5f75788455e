package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      // state-store maintenance (snapshot upload) racing an AvailableNow
      // query's self-termination logs TorrentBroadcast abort ERRORs;
      // tests drain in seconds, so defer maintenance past their lifetime
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10m")
      .config("spark.sql.session.timeZone", "UTC")
      // the optional Catalyst rule (columnar MoR through format("graft"))
      // runs in every suite; GraftSourceSpec covers the V1 fallback by
      // calling the resolving relation's buildScan directly
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // a stateful AvailableNow query that self-terminates while its state
    // commit is mid-broadcast logs a recoverable Spark-internal
    // `TorrentBroadcast: Store broadcast ... fail` ERROR ("remove all
    // pieces" is the cleanup succeeding). It is termination-order noise
    // inside Spark, not an engine or test teardown bug (queries are
    // fully awaited; stop() only fires on an await timeout) — keep it
    // out of the suite log so a real ERROR stands out.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.broadcast.TorrentBroadcast",
      org.apache.logging.log4j.Level.FATAL)
    s
  }

  /** Spark jobs started by `body` on this thread: jobs carry the local
    * property set here, so jobs of suites running alongside are not
    * counted. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobs") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try body finally {
      sc.setLocalProperty("graft.test.jobs", null)
      GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
