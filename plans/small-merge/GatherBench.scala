package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.apply.CdcApplier
import graft.lake.LakeTable

/** Gathered (one partition, no exchange) against exchange merges of the
  * same batches, for the measurements in BENCH.md "Where the gather bound
  * sits" (raw lines: gather_bound_sweep.jsonl).
  *
  * Args: `mor|cow seedRows pad batches reps workDir`. Per rep, each side
  * (order alternating) seeds a fresh lake with `seedRows` distinct keys
  * in 16 files (content `content-<key>-` plus `pad` + 0–21 bytes), then
  * times `batches` 2 000-event batches (10% deletes, 10% new keys, the
  * rest updates spread over the keyspace) and prints one JSON line per
  * batch: process CPU and wall time of `applyBatch`, and the merge-input
  * bound (rows of all files + events). Both sides' final states are
  * compared. Rep 0 is a warm-up.
  *
  * Not part of any build: it ran from the benchmark's source directory
  * of a copy of the tree whose gather bound reads a system property —
  * `LakeTable.gathered` gathers iff `estRows <= gatherRows`, and
  * `morMerge` semi-joins iff `inRows > gatherRows` (and the batch is
  * sparse), with `gatherRows` the property `graft.gatherRows` (-1: never
  * gather). */
object GatherBench {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val seedRows = args(1).toLong
    val pad = args(2).toInt
    val batches = args(3).toInt
    val reps = args(4).toInt
    val work = Paths.get(args(5))
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    val osb = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val mor = mode == "mor"
    val perBatch = 2000L

    def ev(ids: DataFrame, key: Column, op: Column, seq: Column, tag: String): DataFrame =
      ids.select(op.as("op"), pmod(col("id"), lit(8)).cast("string").as("part"),
        format_string("repo-%04d", key % 2000).as("repo"),
        concat(lit("src/f"), key.cast("string"), lit(".scala")).as("path"),
        concat(lit(tag), lower(hex(abs(xxhash64(col("id"), key))))).as("commit"),
        lit("scala").as("lang"),
        concat(lit("content-"), key.cast("string"), lit("-"),
          repeat(lit("x"), (pmod(xxhash64(key, lit(tag)), lit(8)) * 3 + pad).cast("int")))
          .as("content"),
        seq.as("seq"))

    val seed = ev(spark.range(seedRows).toDF(), col("id"), lit("UPDATE"), col("id"), "s")
    def batch(b: Int): DataFrame = {
      val base = seedRows + b * perBatch
      val i = col("id")
      val k = when(i % 10 === 1, lit(seedRows) + lit(b * perBatch) + i)
        .otherwise((i * 7919 + b * 104729) % seedRows)
      val op = when(i % 10 === 0, "DELETE").when(i % 10 === 1, "INSERT").otherwise("UPDATE")
      ev(spark.range(perBatch).toDF(), k, op, i + base + 1, s"b$b-")
    }

    def state(lake: LakeTable): DataFrame =
      lake.read().select("repo", "path", "commit", "content")

    for (r <- 0 until reps) {
      val order = if (r % 2 == 0) Seq(true, false) else Seq(false, true)
      val lakes = order.map { gather =>
        System.setProperty("graft.gatherRows",
          if (gather) LakeTable.SmallWriteRows.toString else "-1")
        val dir = work.resolve(s"r$r-${if (gather) "g" else "x"}")
        val lake = new LakeTable(dir.toString, spark)
        new CdcApplier(lake, spark, clusterPartitions = 16, mergeOnRead = mor)
          .applyBatch(seed, "seed")
        val app = new CdcApplier(lake, spark, mergeOnRead = mor)
        for (b <- 0 until batches) {
          val snap = lake.currentSnapshot.get
          val bound = snap.files.map(_.rows).sum + perBatch
          System.gc()
          val c0 = osb.getProcessCpuTime
          val t0 = System.nanoTime()
          app.applyBatch(batch(b), s"b$b")
          val wall = (System.nanoTime() - t0) / 1e6
          val cpu = (osb.getProcessCpuTime - c0) / 1e6
          println(f"""{"mode":"$mode","pad":$pad,"variant":"${if (gather) "gathered" else "exchange"}","rep":$r,"batch":$b,"in_rows_bound":$bound,"wall_ms":$wall%.1f,"cpu_ms":$cpu%.1f}""")
        }
        lake
      }
      val (a, b) = (state(lakes(0)), state(lakes(1)))
      val same = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      println(s"""{"rep":$r,"same_state":$same,"rows":${a.count()}}""")
      if (!same) sys.exit(2)
    }
    spark.stop()
  }
}
