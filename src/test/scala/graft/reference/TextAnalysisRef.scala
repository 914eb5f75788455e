package graft.reference

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-only reference forms of the text operators: the Column
  * higher-order-function expressions that [[graft.ops.TextKernels]]
  * replaced. Kernel equivalence specs compare against them. */
object TextAnalysisRef {

  /** Simple whole-document fingerprint: first 16 hex chars of md5. */
  def fingerprint64(text: Column): Column = substring(md5(text), 1, 16)

  /** Character k-gram shingles (distinct). `Column.substr(pos,len)` keeps
    * this inside codegen. NULL text ⇒ NULL, as the kernel's shingle table
    * (the bare transform would give `[NULL]`: `greatest` skips the NULL
    * length). */
  def shingles(text: Column, k: Int = 5): Column =
    when(text.isNotNull, array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k)))))

  /** The shingles of one document in the kernel's packed layout
    * (`TextKernels.shingleCodes`), decoded: each code's length sits in its
    * low 3 bits and its chars in 12-bit slots above them, first char
    * highest; `wide` holds the rest as they are. */
  def decodeShingles(codes: Seq[Long], wide: Seq[String]): Seq[String] =
    codes.map { c =>
      val len = (c & 7).toInt
      String.valueOf(Array.tabulate(len)(i => ((c >>> (3 + 12 * (4 - i))) & 0xfff).toChar))
    } ++ wide

  /** Rolling/shingle fingerprint: minimum md5 over the k-gram set — the
    * MinHash(1) signature, engine-portable. */
  def shingleFingerprint(text: Column, k: Int = 5): Column =
    array_min(transform(shingles(text, k), s => md5(s)))

  /** Distinct word n-grams (whitespace tokens joined by a single space).
    * Documents with fewer than n tokens yield an empty array; blank text
    * yields an empty array (split of "" is [""], size 1 < n for n ≥ 2).
    *
    * The token array is BOUND ONCE per row through a lambda variable
    * (`transform(array(split…), w => …)` + `element_at`): naming the
    * split as a plain `val` inlines it into the per-element lambda, and
    * higher-order functions re-evaluate non-lambda children per element
    * — the regex split would run once per OUTPUT n-gram. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 2, s"word n-grams need n >= 2, got $n")
    element_at(transform(array(split(trim(text), "\\s+")), w =>
      when(size(w) >= n,
        array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
          i => array_join(slice(w, i, lit(n)), " "))))
        .otherwise(array().cast("array<string>"))), 1)
  }
}
