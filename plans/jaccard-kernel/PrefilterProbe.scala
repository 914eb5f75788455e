package graft

import org.apache.spark.sql.SparkSession

/** Counts, on a perfbench corpus, q17's LSH candidate pairs, those that
  * pass the length prefilter min(|A|,|B|) >= t * max(|A|,|B|), and those
  * that verify (J >= t). */
object PrefilterProbe {
  def main(a: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = java.nio.file.Paths.get(a(0))
    perfbench.Corpus.write(spark, dir, a(1).toLong, 5000, 2000)
    val df = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val docs = df.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val pc = 200; val k = 5; val t = 0.5
    val sets = docs.map { case (id, txt) =>
      id -> ops.TextKernels.shingleCodes(ops.TextKernels.codePointPrefix(txt, pc), k) }.toMap
    val sigs = docs.map { case (id, txt) => id -> ops.TextKernels.minhashSig(md, txt, k, 16, pc) }
    val buckets = for ((id, s) <- sigs.toSeq; b <- 0 until 2)
      yield ((b, s.slice(b * 8, b * 8 + 8).mkString("|")), id)
    val cands = buckets.groupBy(_._1).values.flatMap { g =>
      val ids = g.map(_._2).sorted
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }.toSet
    var lenPass = 0
    var verified = 0
    cands.foreach { case (i, j) =>
      val (ca, wa) = sets(i); val (cb, wb) = sets(j)
      val na = ca.length + wa.length; val nb = cb.length + wb.length
      if (math.min(na, nb) >= t * math.max(na, nb)) lenPass += 1
      if (ops.TextKernels.jaccard(ca, wa, cb, wb, false, true).get >= t) verified += 1
    }
    val lsh = ops.Dedup.minhashLsh(df, "doc_id", "text", 5, 16, 2, 0.5, 200).count()
    println(s"seed ${a(1)}: candidates ${cands.size}, length-prefilter pass $lenPass, " +
      s"verified $verified, minhashLsh rows $lsh")
    spark.stop()
  }
}
