package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Row-local text kernels behind the per-document operators (MinHash
  * signatures, SimHash, shingle/fingerprint sets, word n-gram digests,
  * repetition counters).
  *
  * Why kernels and not Column expressions (guide §1.2 step 2): every one
  * of these statistics is a pure function of ONE row's text, so the
  * 100 TB-optimal plan is a scan-stage projection with zero exchanges —
  * but the Column formulation needs higher-order functions
  * (transform/aggregate over shingle/token arrays), which Spark evaluates
  * INTERPRETED (no whole-stage codegen for HOF lambdas, no CSE inside
  * them), or an explode → hash-aggregate round trip that shuffles
  * O(corpus tokens) only to regroup rows that were already co-located.
  * Measured on the bench corpus: the q17 signature+verify chain spends
  * 2 × ~15 s runs before the JIT warms the interpreted HOF paths; these
  * kernels are plain monomorphic JVM loops (one MessageDigest per task,
  * one HashSet/HashMap per row) that run at memory speed from the first
  * row. Skew is bounded by single-document length, exactly like the
  * expressions they replace.
  *
  * Exactness contract: every kernel reproduces the replaced Column
  * expression bit-for-bit (and therefore the DuckDB oracles):
  * code-point (not UTF-16) substring semantics, Spark `split`/`trim`
  * token semantics, md5-hex lane extraction, IEEE double ratios of exact
  * integer counts. Gated by the q15/q16/q17/q18/q37/q50 oracle queries
  * and the OpsSpec kernel-vs-Column equivalence tests.
  *
  * Shingle sets for Jaccard (q16, q17's verify) use a packed layout, not
  * `array<string>`: a document is `(codes: array<long>, wide:
  * array<string>)`, both sorted and distinct ([[shingleCodes]]). A
  * shingle of at most 5 UTF-16 chars, each below U+1000, is one
  * non-negative long ([[packShingle]]: 12 bits per char, then a 3-bit
  * length); every other shingle (surrogates, CJK, k > 5) stays a string
  * in `wide`. The pack rule looks only at the shingle, so equal shingles
  * always take the same form, and the set is exactly the reference
  * shingle set split in two. Packed codes skip the `UTF8String`/`String`
  * round trip and the char-wise compares a sorted `array<string>` alone
  * would pay (measured in BENCH.md). [[jaccard]] is then two merge
  * walks, with the Column form's `size(NULL)` and 0/0 results under the
  * session's ANSI setting. JaccardKernelSpec checks both against the Column forms
  * over generated text (ASCII, Latin-1, the U+0FFF/U+1000 boundary,
  * surrogate pairs, CJK, blank and NULL), with ANSI on and off.
  */
private[graft] object TextKernels {

  /** First `n` code points of `s` (Spark/DuckDB `substring(s, 1, n)`);
    * the whole string when `n <= 0`. */
  def codePointPrefix(s: String, n: Int): String = {
    if (n <= 0 || s.length <= n) return s // UTF-16 len <= n ⇒ cp len <= n
    var o = 0
    var c = 0
    while (c < n && o < s.length) { o = s.offsetByCodePoints(o, 1); c += 1 }
    s.substring(0, o)
  }

  /** Visit the bounds `[from, to)` of every character-k-gram of `s` in
    * order, code-point-correct: positions 1 .. max(cpLen-k+1, 1), each
    * shingle = k code points (or the remainder near/at a short end) — the
    * exact value set of
    * `transform(sequence(1, greatest(length(s)-k+1, 1)), i => substr(i, k))`.
    * May visit duplicates; callers dedup as needed. */
  def foreachShingleBounds(s: String, k: Int)(f: (Int, Int) => Unit): Unit = {
    val len = s.length
    var hasSupp = false
    var i = 0
    while (i < len && !hasSupp) {
      if (Character.isHighSurrogate(s.charAt(i))) hasSupp = true
      i += 1
    }
    if (!hasSupp) {
      val cnt = math.max(len - (k - 1), 1)
      var p = 0
      while (p < cnt) { f(p, math.min(p + k, len)); p += 1 }
    } else {
      val cpLen = s.codePointCount(0, len)
      val offs = new Array[Int](cpLen + 1)
      var o = 0
      var c = 0
      while (c < cpLen) { offs(c) = o; o = s.offsetByCodePoints(o, 1); c += 1 }
      offs(cpLen) = len
      val cnt = math.max(cpLen - (k - 1), 1)
      var p = 0
      while (p < cnt) { f(offs(p), offs(math.min(p + k, cpLen))); p += 1 }
    }
  }

  /** Every character-k-gram of `s` as a string ([[foreachShingleBounds]]). */
  def foreachShingle(s: String, k: Int)(f: String => Unit): Unit =
    foreachShingleBounds(s, k)((from, to) => f(s.substring(from, to)))

  /** Longest shingle, in UTF-16 chars, that [[packShingle]] packs. */
  private val PackChars = 5

  /** `s[from, to)` packed into one non-negative long when it is at most
    * [[PackChars]] UTF-16 chars, each below U+1000: 12 bits per char,
    * first char highest, unused slots 0, then the length in the low 3
    * bits (5 × 12 + 3 = 63 bits). Injective: the length tells a trailing
    * U+0000 from an unused slot. −1 when the shingle does not pack. */
  def packShingle(s: String, from: Int, to: Int): Long = {
    val len = to - from
    if (len > PackChars) return -1L
    var code = 0L
    var i = 0
    while (i < PackChars) {
      val c = if (i < len) s.charAt(from + i).toInt else 0
      if (c >= 0x1000) return -1L
      code = (code << 12) | c
      i += 1
    }
    (code << 3) | len
  }

  /** The distinct k-shingles of `s` in the packed layout: `codes`, the
    * shingles [[packShingle]] packs, and `wide`, every other shingle
    * (surrogates, CJK, k > 5) as a string; both sorted ascending and
    * distinct. Whether a shingle packs depends only on the shingle, so
    * equal shingles of two documents always land in the same half. */
  def shingleCodes(s: String, k: Int): (Array[Long], Array[String]) = {
    // foreachShingleBounds visits max(cpLen − k + 1, 1) shingles, and
    // cpLen <= s.length, so these slots always suffice
    val codes = new Array[Long](math.max(s.length - k + 1, 1))
    var n = 0
    var wide: java.util.TreeSet[String] = null
    foreachShingleBounds(s, k) { (from, to) =>
      val c = packShingle(s, from, to)
      if (c >= 0) {
        codes(n) = c
        n += 1
      } else {
        if (wide == null) wide = new java.util.TreeSet[String]()
        wide.add(s.substring(from, to))
      }
    }
    java.util.Arrays.sort(codes, 0, n)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || codes(i) != codes(m - 1)) { codes(m) = codes(i); m += 1 }
      i += 1
    }
    (java.util.Arrays.copyOf(codes, m),
      if (wide == null) Array.empty[String] else wide.toArray(new Array[String](0)))
  }

  /** |A ∩ B| of two ascending distinct long arrays: one merge walk. */
  private def commonCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** |A ∩ B| of two ascending distinct string arrays: one merge walk. */
  private def commonCount(a: Array[String], b: Array[String]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Exact Jaccard |A ∩ B| / |A ∪ B| of two shingle sets in the
    * [[shingleCodes]] layout — the value of the Column form
    * (`graft.reference.DedupRef.jaccard`: intersection size over union
    * size, each `size` cast to double) over the same sets as string
    * arrays. Both sets are distinct, so
    * |A ∪ B| = |A| + |B| − |A ∩ B|, and the intersection is a merge walk
    * over `codes` plus one over `wide`. A set is NULL when its `codes`
    * is; then both `size`s are NULL, or −1 under `legacySizeOfNull`
    * (`spark.sql.legacy.sizeOfNull` without ANSI), so the pair gives
    * NULL or −1/−1 = 1.0. Two empty sets give 0/0: NULL, or a
    * DIVIDE_BY_ZERO error under `ansi`. */
  def jaccard(codesA: Array[Long], wideA: Array[String], codesB: Array[Long],
      wideB: Array[String], legacySizeOfNull: Boolean, ansi: Boolean): Option[Double] = {
    if (codesA == null || codesB == null) return if (legacySizeOfNull) Some(1.0) else None
    val common = commonCount(codesA, codesB) + commonCount(wideA, wideB)
    val union = codesA.length + wideA.length + codesB.length + wideB.length - common
    if (union > 0) Some(common.toDouble / union.toDouble)
    else if (ansi) throw new ArithmeticException(
      "[DIVIDE_BY_ZERO] Division by zero: Jaccard of two empty shingle sets")
    else None
  }

  private val hexChars = "0123456789abcdef".toCharArray

  def md5Hex(md: MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** MinHash signature over the distinct k-shingles of the first
    * `prefixChars` code points (whole text when 0): for hash h,
    * min over shingles of (a·(2h+1) + b) mod (2³¹−1), where (a, b) are
    * the first two big-endian 32-bit lanes of the shingle's md5 — the
    * exact arithmetic of the conv(md5-hex)-lane Column form. */
  def minhashSig(md: MessageDigest, text: String, k: Int, numHashes: Int,
      prefixChars: Int): Array[Long] = {
    val t = if (prefixChars > 0) codePointPrefix(text, prefixChars) else text
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = new java.util.HashSet[String]()
    foreachShingle(t, k) { s =>
      if (seen.add(s)) {
        md.reset()
        val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
        val a = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val b = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var h = 0
        while (h < numHashes) {
          val v = (a * (2 * h + 1) + b) % 2147483647L
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
    }
    mins
  }

  /** Whitespace tokens of `trim(text)` — Spark `split(trim(t), "\\s+")`
    * semantics: blank input yields one empty-string token. */
  def wsTokens(text: String): Array[String] = text.trim.split("\\s+", -1)

  /** 64-bit SimHash as 16 hex chars — the exact per-nibble majority vote
    * of [[Dedup.simhash]]: for nibble j and bit m, vote over DISTINCT
    * tokens of +1 when bit m of md5-hex nibble j is set else −1; the
    * output nibble keeps the bits with a strictly positive vote. */
  def simhashHex(md: MessageDigest, text: String): String = {
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[String]()
    val toks = wsTokens(text)
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      if (seen.add(tok)) {
        md.reset()
        val d = md.digest(tok.getBytes(StandardCharsets.UTF_8))
        var j = 0
        while (j < 16) {
          val nib = if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
          var bit = 0
          while (bit < 4) {
            val m = 8 >> bit
            votes(4 * j + bit) += (if ((nib & m) == m) 1 else -1)
            bit += 1
          }
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Char](16)
    var j = 0
    while (j < 16) {
      var v = 0
      var bit = 0
      while (bit < 4) {
        if (votes(4 * j + bit) > 0) v |= (8 >> bit)
        bit += 1
      }
      out(j) = hexChars(v)
      j += 1
    }
    new String(out)
  }

  /** (whole-text md5 prefix-16, min md5-hex over distinct k-shingles) —
    * the q15 fingerprint pair; md5-hex minima compare lexicographically
    * which equals unsigned-byte order, so `min(md5(s))` is exact. */
  def fingerprints(md: MessageDigest, text: String, k: Int): (String, String) = {
    val fp64 = md5Hex(md, text).substring(0, 16)
    var minHex: String = null
    val seen = new java.util.HashSet[String]()
    foreachShingle(text, k) { s =>
      if (seen.add(s)) {
        val hx = md5Hex(md, s)
        if (minHex == null || hx.compareTo(minHex) < 0) minHex = hx
      }
    }
    (fp64, minHex)
  }

  /** Distinct word n-grams (tokens joined by one space), in
    * first-occurrence order, as md5-hex digests. Blank text or fewer
    * than n tokens ⇒ empty. */
  def wordNgramDigests(md: MessageDigest, text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val t = text.trim
    if (t.isEmpty) return Array.empty
    val toks = t.split("\\s+", -1)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[String](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = md5Hex(md, it.next()); p += 1 }
    out
  }

  /** Per-document repetition counters (q50): token/bigram totals,
    * distinct counts and top frequencies over whitespace tokens; blank or
    * NULL text ⇒ all zeros. Exact integers. */
  def repetitionCounters(text: String)
      : (Long, Long, Long, Long, Long, Long) = {
    val t = if (text == null) "" else text.trim
    if (t.isEmpty) return (0L, 0L, 0L, 0L, 0L, 0L)
    val toks = t.split("\\s+", -1)
    val uni = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < toks.length) {
      uni.merge(toks(i), 1, Integer.sum)
      i += 1
    }
    var topTok = 0
    val uit = uni.values().iterator()
    while (uit.hasNext) { val c = uit.next(); if (c > topTok) topTok = c }
    var distinctBi = 0L
    var topBi = 0
    if (toks.length >= 2) {
      val bi = new java.util.HashMap[String, Int]()
      val sb = new java.lang.StringBuilder
      var p = 0
      while (p + 1 < toks.length) {
        sb.setLength(0)
        sb.append(toks(p)).append(' ').append(toks(p + 1))
        bi.merge(sb.toString, 1, Integer.sum)
        p += 1
      }
      distinctBi = bi.size.toLong
      val bit = bi.values().iterator()
      while (bit.hasNext) { val c = bit.next(); if (c > topBi) topBi = c }
    }
    (toks.length.toLong, uni.size.toLong, topTok.toLong,
      math.max(toks.length - 1, 0).toLong, distinctBi, topBi.toLong)
  }
}
