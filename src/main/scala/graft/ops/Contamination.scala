package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/eval contamination detection: which training documents share
  * word n-grams with a held-out evaluation set (the GPT-3-style n-gram
  * decontamination check every LLM corpus pipeline runs before training).
  *
  * Shape at 100 TB:
  *  - each side is projected to (doc_id, md5(n-gram)) BEFORE the join, so
  *    the shuffle ships 32-hex-char digests, never the n-gram text — and
  *    the n-grams themselves are distinct per document at the source
  *    ([[TextKernels.wordNgramDigests]]), so no pre-join dedup shuffle exists;
  *  - the eval side is a small fraction of the corpus (benchmarks are
  *    KB–MB against a 100 TB corpus); size-based planning broadcasts its
  *    distinct gram set, making the probe a map-side hash lookup over the
  *    training scan — the training corpus is scanned once and never
  *    shuffled until the tiny per-hit aggregate;
  *  - output is only the CONTAMINATED documents (inner join), which is
  *    the sparse set downstream deletion/flagging consumes.
  */
object Contamination {

  /** Flag training docs sharing at least one word n-gram with any eval
    * doc. `isEval` partitions `docs` into the held-out set (true) and the
    * training set (false); NULL/blank texts and docs shorter than n
    * tokens cannot be contaminated and drop out naturally (empty n-gram
    * arrays explode to zero rows).
    *
    * Returns one row per contaminated training doc:
    * (idCol, n_grams = distinct n-grams in the doc, n_hit_grams = how
    * many of them appear in the eval set, n_eval_docs = distinct eval
    * docs hit, hit_ratio = n_hit_grams / n_grams). */
  def evalOverlap(docs: DataFrame, idCol: String, textCol: String,
      isEval: Column, n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // distinct n-grams are pre-hashed row-locally in the scan stage
    // ([[TextKernels.wordNgramDigests]] — one monomorphic loop instead of
    // an interpreted word-n-gram HOF plus a per-gram md5 expression);
    // the per-doc total rides the exploded rows (constant per id, folded
    // back with max) so the training corpus is scanned exactly ONCE.
    // idCol must be integral (rides the kernel as long).
    val nn = n
    // eval/train split BEFORE the kernel: the split predicate evaluates
    // in each branch's scan stage (an opaque kernel would hide it from
    // Catalyst), so every document is tokenized and hashed exactly once
    def gramRows(side: DataFrame) = side
      .select(col(idCol).cast("long").as("_kid"),
        col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val gs = TextKernels.wordNgramDigests(md, t, nn)
          val nG = gs.length.toLong
          gs.iterator.map(gh => (id, nG, gh))
        }
      }.toDF(idCol, "_n", "_gh")
    val train = gramRows(docs.filter(!isEval))
    val evalGrams = gramRows(docs.filter(isEval))
      .select(col(idCol).as("_eval_id"), col("_gh"))
    train.join(evalGrams, Seq("_gh"))
      .groupBy(col(idCol))
      .agg(max(col("_n")).as("n_grams"),
        count_distinct(col("_gh")).as("n_hit_grams"),
        count_distinct(col("_eval_id")).as("n_eval_docs"))
      .select(col(idCol), col("n_grams"), col("n_hit_grams"), col("n_eval_docs"),
        (col("n_hit_grams").cast("double") / col("n_grams").cast("double"))
          .as("hit_ratio"))
  }
}
