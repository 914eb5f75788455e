package graft

import org.apache.spark.sql.SparkSession

/** Share of distinct per-document 5-shingles that pack, over a corpus's
  * documents.parquet: `ShareProbe <dir> <seed>` first writes the perfbench
  * corpus of that seed into `<dir>`; `ShareProbe <dir>` reads what is
  * there (WideProbe's CJK corpus). */
object ShareProbe {
  def main(a: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    if (a.length > 1) perfbench.Corpus.write(spark, java.nio.file.Paths.get(a(0)), a(1).toLong, 5000, 2000)
    val texts = spark.read.parquet(s"${a(0)}/documents.parquet").select("text").collect().map(_.getString(0))
    var codes = 0L; var wide = 0L
    texts.foreach { t => val (c, w) = ops.TextKernels.shingleCodes(t, 5); codes += c.length; wide += w.length }
    println(s"${a(0)}: docs ${texts.length}, distinct shingles per doc summed ${codes + wide}, packed $codes (${100.0 * codes / (codes + wide)}%), wide $wide")
    spark.stop()
  }
}
