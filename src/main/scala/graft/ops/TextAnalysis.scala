package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language-ID, quality
  * scoring, token counting, document fingerprinting. The per-row scores
  * are pure Column expressions (codegen'd, no UDF, no shuffle) — at
  * 100 TB these run as a single projection inside the scan stage; the
  * shingle-based tables ([[fingerprintTable]], [[shingleTable]]) run
  * row-local [[TextKernels]], because the Column form of a shingle set
  * needs interpreted higher-order lambdas.
  *
  * Determinism: ratios are double divisions of exact integer counts
  * (IEEE-identical across engines); fingerprints are md5-hex string
  * minima (engine-portable, unlike xxhash64).
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank ⇒ 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Tokens matched by a BPE-ish word/punct regex (closer to subword
    * tokenizer counts than whitespace splitting). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  private val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "nicht", "ein")
  private val stopFr = Seq("le", "la", "et", "les", "des", "est", "une")

  private def hits(text: Column, words: Seq[String]): Column =
    size(filter(split(lower(trim(text)), "\\s+"), w => w.isin(words.map(lit(_)): _*)))

  /** n-gram/stopword-heuristic language ID over {en, de, fr}:
    * argmax of stopword hit counts, `und` ties broken en < de < fr. */
  def langId(text: Column): Column = {
    val en = hits(text, stopEn); val de = hits(text, stopDe); val fr = hits(text, stopFr)
    when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(hits(text, stopEn).cast("double") / n.cast("double"))
  }

  /** Quality features: length, token count, punct ratio, upper ratio,
    * mean token length — the length/punct/stopword heuristics used by
    * web-scale corpus filters. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val len = length(text)
    val toks = tokenCount(text)
    val punct = len - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val uppers = len - length(regexp_replace(text, "[A-Z]", ""))
    Seq(
      "n_chars" -> len.cast("long"),
      "n_tokens" -> toks.cast("long"),
      "punct_ratio" -> when(len === 0, lit(0.0)).otherwise(punct.cast("double") / len.cast("double")),
      "upper_ratio" -> when(len === 0, lit(0.0)).otherwise(uppers.cast("double") / len.cast("double")),
      "mean_tok_len" -> when(toks === 0, lit(0.0))
        .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / toks.cast("double")),
      "stop_ratio" -> stopwordRatio(text))
  }

  /** Whole-table fingerprint pass (q15): (idCol, fp64, shingle_fp) via
    * one row-local scan-stage kernel ([[TextKernels.fingerprints]]) —
    * both fingerprints are pure functions of one row's text, so the
    * explode → min-aggregate → join shape paid an O(corpus shingles)
    * exchange (plus the interpreted shingle HOF) for nothing. NULL text
    * ⇒ NULL fingerprints, matching the SQL oracle. idCol must be
    * integral (rides the kernel as long). */
  def fingerprintTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val kk = k
    df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) =>
          if (t == null) (id, null: String, null: String)
          else {
            val (fp64, shFp) = TextKernels.fingerprints(md, t, kk)
            (id, fp64, shFp)
          }
        }
      }.toDF(idCol, "fp64", "shingle_fp")
  }

  /** Distinct k-shingle sets for a whole table in the packed layout of
    * [[TextKernels.shingleCodes]]: (idCol, codes: array<long>,
    * wide: array<string>), one row-local kernel in the scan stage — the
    * value set of `array_distinct(transform(...))` without the
    * interpreted HOF. `prefixChars` > 0 shingles only the first that many
    * code points. NULL text ⇒ NULL `codes` and `wide`. idCol must be
    * integral. */
  def shingleTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 5, prefixChars: Int = 0): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val kk = k
    val pc = prefixChars
    df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        if (t == null) (id, null: Array[Long], null: Array[String])
        else {
          val (codes, wide) = TextKernels.shingleCodes(
            if (pc > 0) TextKernels.codePointPrefix(t, pc) else t, kk)
          (id, codes, wide)
        }
      }).toDF(idCol, "codes", "wide")
  }

  /** Exact n-gram Jaccard of shingle-set pairs ([[TextKernels.jaccard]],
    * one row-local kernel): `pairs` carries `id_a`, `id_b` and each
    * side's [[shingleTable]] layout as `codes_a`/`wide_a` and
    * `codes_b`/`wide_b`; returns (id_a, id_b, jaccard) with the value of
    * the Column form (intersection size over union size of the string
    * sets, `graft.reference.DedupRef.jaccard`) under this session's
    * `size(NULL)` and ANSI division rules. The ids ride as long. */
  def shingleJaccard(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val conf = spark.sessionState.conf
    val legacySize = conf.legacySizeOfNull
    val ansi = conf.ansiEnabled
    pairs.select(col("id_a").cast("long"), col("id_b").cast("long"), col("codes_a"),
        col("wide_a"), col("codes_b"), col("wide_b"))
      .as[(Long, Long, Array[Long], Array[String], Array[Long], Array[String])]
      .mapPartitions(_.map { case (ia, ib, ca, wa, cb, wb) =>
        (ia, ib, TextKernels.jaccard(ca, wa, cb, wb, legacySize, ansi))
      }).toDF("id_a", "id_b", "jaccard")
  }
}
