package probe

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** q16 over a corpus whose shingles do not pack: 5,000 docs of 10-100
  * words from a 30-word CJK vocabulary (2-3 chars each, all >= U+4E00),
  * the bench corpus's shape with CJK words. Prints process CPU per q16
  * call, warm, `calls` calls x `rounds` rounds. Run against a
  * checkout's `.bench_build/perfbench.jar`:
  * `java <add-opens> -cp "classes:perfbench.jar:$SPARK_HOME/jars/*"
  * probe.WideProbe <dir> 10 3`. */
object WideProbe {
  def main(a: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    val dir = a(0); val calls = a(1).toInt; val rounds = a(2).toInt
    val rnd = new java.util.SplittableRandom(2718)
    val vocab = Array.fill(30)(new String(Array.fill(2 + rnd.nextInt(2))((0x4e00 + rnd.nextInt(0x5000)).toChar)))
    val docs = 5000
    val base = Array.fill(docs)(Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(30))).mkString(" "))
    val rows = (0 until docs).map { i =>
      val text = if (i % 20 == 7) base(rnd.nextInt(docs)) + " dup" else base(i)
      Row(i.toLong, text)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def once(): Long = {
      val c0 = os.getProcessCpuTime
      graft.queries.TrainingData.q16NgramJaccard(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (os.getProcessCpuTime - c0) / 1000000
    }
    (0 until 10).foreach(_ => once()) // warm
    val checksum = graft.queries.TrainingData.q16NgramJaccard(spark, dir)
      .selectExpr("sum(jaccard)", "count(*)").collect().head
    (0 until rounds).foreach { r =>
      val ms = (0 until calls).map(_ => once()).sorted
      println(s"round $r: q16 cpu ms per call median ${ms(ms.size / 2)} min ${ms.head} max ${ms.last}")
    }
    println(s"checksum $checksum")
    spark.stop()
  }
}
