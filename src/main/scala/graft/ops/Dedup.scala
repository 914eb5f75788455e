package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH with exact n-gram Jaccard verify, SimHash, and
  * embedding-cosine near-dup detection, plus near-dup clustering.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash aggregate on a 64-hex digest — shuffle on
  *    the digest, never on the content;
  *  - MinHash/LSH turns all-pairs O(n²) similarity into a bucket
  *    equi-join: explode to (band, bucket) keys, self-join per bucket,
  *    verify candidates with true Jaccard. Shuffle volume is
  *    O(n · bands), candidate verification only touches colliding pairs;
  *  - SimHash reduces each doc to one 64-bit signature; near-dup =
  *    Hamming distance ≤ r, found by the standard pigeonhole block trick
  *    (equi-join per block), again avoiding any N² comparison.
  *
  * Hash discipline: md5-hex string minima (portable to the DuckDB
  * oracle); signatures compare as strings.
  */
object Dedup {

  /** Exact dedup: group identical `textCol` by sha256 digest, keep the
    * smallest id as canonical. One shuffle on the digest. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(sha2(col(textCol), 256).as("content_sha"), col(idCol))
      .groupBy(col("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Full MinHash+LSH near-dup candidate pairs with exact-Jaccard verify.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * Plan shape (the 100 TB-safe one): signature + band keys in one
    * row-local scan-stage kernel (zero exchanges — a doc's signature is a
    * function of its own row) → self equi-join on (band, bucket) carrying
    * ONLY (id, band, bucket) — shingle arrays never ride the candidate
    * join, so shuffle bytes are O(candidates × 16B), not O(candidates ×
    * shingle-set) — → dedup (id_a, id_b) → re-join the shingle sets just
    * for the (small) surviving candidate set → verify exact Jaccard.
    * Every join is an equi-join — never a cartesian. `idCol` must be
    * integral (it rides the kernel as long).
    *
    * `prefixChars` caps signature+verify cost by shingling only the first
    * N chars of the text (0 = full text) — a cost/recall knob the caller
    * chooses explicitly, mirrored in the DuckDB oracle.
    *
    * Each intermediate that feeds two branches is computed ONCE per call:
    * the banded signatures (both self-join sides), the deduplicated pair
    * set (the candidate ids and the verify join) and the candidates'
    * shingle sets (both verify sides) are each `localCheckpoint(eager =
    * false)`ed: filled by the first job that reads them, dropped by
    * Spark's context cleaner once the returned DataFrame is garbage.
    * Exchange reuse does NOT cover these branches once AQE turns the
    * joins into broadcasts at run time (it does for every q17 join):
    * without the checkpoints one call's plans held the (band, bucket)
    * self-join five times and fed both verify joins their own shingling
    * (30 Spark jobs per call on the bench corpus; 9 with them). A checkpoint plans
    * its subtree when the operator is CALLED, so the self-join's and the
    * candidate semi-join's shuffle and broadcast stages run then; only
    * the verify joins wait for the caller's action. Checkpoint blocks
    * live on the executors that computed them (no lineage to recompute a
    * lost one).
    *
    * The verify stage is semi-joined to the surviving candidate ids
    * BEFORE shingling, so its shuffle is O(candidates), never O(corpus) —
    * when candidates ≈ 0 the verify is free. AQE turns the semi-join into
    * a broadcast at runtime when the candidate set is small (the common
    * case) without risking an OOM hint on an adversarial all-dup corpus. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.6, prefixChars: Int = 0): DataFrame = {
    val rowsPerBand = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    // Signature + banding in ONE row-local kernel inside the scan stage
    // ([[TextKernels.minhashSig]]): a document's signature depends only
    // on its own shingles, so no explode / hash-aggregate round trip is
    // needed at all — the earlier explode + 16-min-aggregate shape paid
    // an O(corpus shingles) exchange plus the interpreted-HOF shingle
    // transform (two ~15 s JIT-cold runs on the bench corpus) to regroup
    // rows that were already co-located. Bucket keys are the raw
    // '|'-joined per-band minima (equality-joined, so hashing them first
    // adds nothing). NULL texts yield no row, like the explode they
    // replace. Kernel arithmetic is gated bit-exact against the DuckDB
    // oracle (q17) and OpsSpec.
    val kk = k; val nh = numHashes; val nb = bands; val rpb = rowsPerBand
    val pc = prefixChars
    val banded =
      df.select(col(idCol).cast("long").as("id"),
          col(textCol).cast("string").as("t")).as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, t) =>
            if (t == null) Iterator.empty
            else {
              val mins = TextKernels.minhashSig(md, t, kk, nh, pc)
              (0 until nb).iterator.map { b =>
                val sb = new java.lang.StringBuilder
                var h = b * rpb
                while (h < (b + 1) * rpb) {
                  if (h > b * rpb) sb.append('|')
                  sb.append(mins(h))
                  h += 1
                }
                (id, b, sb.toString)
              }
            }
          }
        }.toDF("id", "band", "bucket").localCheckpoint(eager = false)
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(eager = false)
    // verify cost O(candidates): shingle only docs appearing in a pair
    // (kernel shingle sets — same first-occurrence-distinct value set as
    // the array_distinct transform, without the interpreted HOF)
    val candIds = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    val sh = df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t")).as[(Long, String)]
      .join(candIds, Seq("id"), "left_semi")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        (id, if (t == null) null
        else TextKernels.shingleSet(
          if (pc > 0) TextKernels.codePointPrefix(t, pc) else t, kk))
      }).toDF("id", "sh").localCheckpoint(eager = false)
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash signatures for a whole table — the hot-path shape (same
    * lesson as [[minhashLsh]]): explode distinct tokens to rows, ONE
    * codegen'd md5 per (doc, token), then a single hash aggregate of 64
    * bit-vote sums (16 nibbles × 4 bits, map-side combined) and a pure
    * projection packs the hex signature. NULL texts yield no row (matches
    * a SQL oracle's unnest semantics). Returns (idCol, simhash). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // row-local kernel ([[TextKernels.simhashHex]]): a doc's signature is
    // a function of its own distinct tokens, so the explode → 64-sum
    // aggregate shape paid an O(corpus tokens) exchange (plus 64 conv()
    // nibble parses per token row) to regroup co-located rows; the kernel
    // is one scan-stage projection, bit-identical (OpsSpec gates it
    // against the Column lambda form, the q18 oracle against DuckDB).
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) => (id, TextKernels.simhashHex(md, t)) }
      }.toDF(idCol, "simhash")
  }

  /** SimHash near-dup pairs by pigeonhole: two docs within Hamming
    * distance ≤ 3 over 16 nibbles must agree exactly on one of 4
    * nibble-blocks → equi-join per block, verify nibble-distance. The
    * blocked signatures feed both self-join sides, so they are
    * `localCheckpoint(eager = false)`ed: the corpus is scanned and hashed
    * once per call (see [[minhashLsh]]). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxNibbleDist: Int = 3): DataFrame = {
    val sigd = simhash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash").as("sig"))
    val blocked = sigd.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)), b =>
        struct(b.as("blk"), col("sig").substr(b * 4 + 1, lit(4)).as("key")))).as("bk"))
      .select(col("id"), col("sig"), col("bk.blk").as("blk"), col("bk.key").as("key"))
      .localCheckpoint(eager = false)
    val a = blocked.select(col("blk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = blocked.select(col("blk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("blk", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming_nibbles",
        size(filter(zip_with(
          split(col("sig_a"), ""), split(col("sig_b"), ""),
          (x, y) => x =!= y), v => v)))
      .filter(col("hamming_nibbles") <= maxNibbleDist)
      .select(col("id_a"), col("id_b"), col("hamming_nibbles"))
  }

  /** Embedding-cosine near-duplicate pairs (semantic dedup for a
    * training corpus): sign-random-projection LSH bucket self-join —
    * never all-pairs; shuffle keys are bucket ids — then exact verify on
    * the surviving candidates. Only (id, bucket) rides the candidate
    * join; vectors re-join for the verify (same shape as [[minhashLsh]]).
    * The decision is cosine on the INTEGER-quantized grid:
    * cos_q = qdot / √(‖a‖²·‖b‖²) with every input an exact int64, so
    * (IEEE-correctly-rounded sqrt + division) it is bit-identical in any
    * engine — DuckDB-oracle-gated as q29. `probeBits = 1` widens each
    * row's buckets by all 1-bit flips for recall. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, probeBits: Int = 0): DataFrame = {
    // quantize / bucket / self-dot in row-local kernels ([[VectorKernels]])
    // — same arithmetic as the Column HOFs, no interpreted lambdas. The
    // quantized vectors feed both join branches and the verify re-join, so
    // they are local-checkpointed: the dim probe's job fills the checkpoint
    // and the corpus is read and quantized once per call (the integer
    // bucket projection runs once per join side).
    val base = VectorKernels.withQdot(
      VectorKernels.withQuantized(
        df.select(col(idCol).as("id"), col(vecCol).as("_v")), "_v", "qv").drop("_v"),
      "qv", "qv", "aa").localCheckpoint(eager = false)
    val dim = base.select(size(col("qv"))).head().getInt(0)
    val bucketed = VectorKernels.withBucket(base.select(col("id"), col("qv")),
      "qv", "bucket", Similarity.planeSigns(nPlanes, dim), dim)
    val a = bucketed.select(col("id").as("id_a"),
      explode(Similarity.probeBuckets(col("bucket"), nPlanes, probeBits)).as("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("bucket"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val side = base.select(col("id"), col("qv"), col("aa"))
    pairs
      .join(side.select(col("id").as("id_a"), col("qv").as("qv_a"), col("aa").as("aa_a")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("qv").as("qv_b"), col("aa").as("aa_b")), Seq("id_b"))
      .transform(VectorKernels.withQdot(_, "qv_a", "qv_b", "qdot"))
      .withColumn("cos_q",
        col("qdot").cast("double") / sqrt((col("aa_a") * col("aa_b")).cast("double")))
      .filter(col("cos_q") >= threshold)
      .select(col("id_a"), col("id_b"), col("qdot"), col("cos_q"))
  }

  /** Near-dup CLUSTER resolution: connected components over a near-dup
    * pair set (from [[minhashLsh]] / [[simhashPairs]] /
    * [[embeddingNearDup]]), labelling every member with the minimum doc
    * id of its component. Pairs alone under-delete transitive chains
    * (A≈B≈C with A≉C must still be ONE cluster, keeping one canonical
    * doc) — the closure is the actual dedup decision a corpus pipeline
    * executes.
    *
    * Algorithm: iterative min-label propagation to fixpoint — each round
    * pushes every node's current label across its edges and keeps the
    * per-node minimum; converges in O(component diameter) rounds. Near-
    * dup graphs are overwhelmingly short-diameter (dup groups, not long
    * paths), so this beats the constant-factor-heavy O(log n) large-star
    * /small-star dance in practice. Per round: one equi-join on edges +
    * one min-aggregate, both map-side combined; `localCheckpoint`
    * truncates the lineage so round N's plan doesn't replay rounds
    * 0..N-1; the symmetric edge set every round reads is checkpointed
    * once the same way. The driver-side loop decision (`changed == 0`)
    * reads ONE aggregate value per round — labels monotonically
    * decrease, so the label SUM is a fixpoint witness; no per-row driver
    * work.
    *
    * Returns (doc_id, cluster_id) for every doc appearing in some pair
    * (singletons are their own cluster trivially — callers that need
    * them add `ids.except(members)` rows with cluster_id = doc_id). */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges =
      pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
        .unionByName(pairs.select(col("id_b").cast("long").as("src"),
          col("id_a").cast("long").as("dst")))
        .distinct().localCheckpoint(eager = false)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.unionByName(prop)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }
}
