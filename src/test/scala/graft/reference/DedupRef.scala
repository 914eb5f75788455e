package graft.reference

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-only reference forms of the dedup signatures: the Column
  * higher-order-function expressions that [[graft.ops.TextKernels]]
  * replaced (`minhashSig`, `simhashHex`), plus the Column Jaccard that
  * `TextKernels.jaccard` replaced.
  * Kernel equivalence specs compare against them. */
object DedupRef {

  /** MinHash modulus: 2³¹−1 (Mersenne prime). Minhash value for hash h =
    * min over shingles of (a·(2h+1) + b) mod M, where (a, b) are the two
    * 32-bit lanes of the shingle's single md5 — ONE digest per shingle
    * regardless of `numHashes` (the classic affine-rehash family),
    * integer-exact and portable to the DuckDB oracle. */
  val MinhashM = 2147483647L

  /** MinHash signature as one Column. Inside higher-order-function
    * lambdas Spark performs no common-subexpression elimination, so this
    * form re-hashes every shingle per hash function. */
  def minhashSignature(text: Column, k: Int = 5, numHashes: Int = 16): Column = {
    val lanes = transform(transform(TextAnalysisRef.shingles(text, k), s => md5(s)),
      hx => struct(
        conv(substring(hx, 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(hx, 9, 8), 16, 10).cast("long").as("b")))
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(lanes, p =>
        pmod(p.getField("a") * (h * 2 + 1) + p.getField("b"), lit(MinhashM)))))
  }

  /** 64-bit SimHash over whitespace tokens, as a 16-hex-char string
    * (4 bits per nibble). Per bit: majority vote of ±1 across the
    * tokens' md5 bits; portable hex-nibble math (conv), identical in any
    * engine. Pure column expressions — one projection, no UDF. */
  def simhashHex(text: Column): Column = {
    val toks = array_distinct(split(trim(text), "\\s+"))
    // 16 nibbles; nibble j comes from hex char j of each token's md5:
    // majority vote per bit of the nibble.
    val nibbles = transform(sequence(lit(0), lit(15)), j => {
      val votes = aggregate(toks,
        array(lit(0), lit(0), lit(0), lit(0)),
        (acc, t) => {
          val nib = conv(md5(t).substr(j + 1, lit(1)), 16, 10).cast("int")
          // bit (3-bi) of the nibble, without shiftright-by-Column:
          transform(acc, (a, bi) =>
            a + when(floor(nib / pow(lit(2.0), (lit(3) - bi).cast("double")))
              .cast("int").mod(2) === 1, 1).otherwise(-1))
        })
      val packed = aggregate(votes, lit(0),
        (acc, v) => acc * 2 + when(v > 0, 1).otherwise(0))
      lower(conv(packed.cast("string"), 10, 16))
    })
    // NULL text → NULL signature (concat_ws would silently skip the null
    // nibble array and emit "", diverging from any SQL oracle whose
    // unnest of a NULL token list emits no row at all)
    when(text.isNull, lit(null)).otherwise(concat_ws("", nibbles))
  }

  /** Jaccard of two distinct-string-set columns — the expression
    * `TextKernels.jaccard` replaced in q16 and q17's verify: NULL sets
    * take the session's `size(NULL)` (NULL, or −1 without ANSI), and two
    * empty sets divide 0 by 0. */
  def jaccard(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")

  /** Direct n-gram Jaccard similarity between two text columns. */
  def ngramJaccard(a: Column, b: Column, k: Int = 5): Column =
    jaccard(TextAnalysisRef.shingles(a, k), TextAnalysisRef.shingles(b, k))
}
