package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`), ranked
  * on the integer-quantized grid so every result is exact in any engine
  * (DuckDB-oracle-gated):
  *
  *  - [[quantizedDotTopK]]: brute-force top-k by quantized dot product;
  *  - [[lshTopKQuantized]]: random-hyperplane LSH buckets (deterministic
  *    hyperplanes derived from md5, so results are reproducible);
  *    candidates = same-bucket rows only, turning the cross product into
  *    an equi-join. Recall < 1 by construction; `probeBits = 1` probes
  *    every 1-bit-flip neighbor bucket too (multi-probe LSH);
  *  - [[ivfTopKQuantized]]: IVF cells from a deterministic k-means on the
  *    quantized grid; candidates = the query's nearest cells.
  *
  * Per-row vector math runs in [[VectorKernels]].
  */
object Similarity {

  /** Top-k by quantized dot product (oracle-parity variant): ranking on
    * exact integers, ties broken by neighbor id. */
  def quantizedDotTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // brute force is definitionally all-pairs, so score every query
    // against each corpus row in ONE kernel pass: the quantized query
    // table (metadata-scale — a broadcast join would collect it to the
    // driver anyway) ships in the closure, and the nested-loop join the
    // planner produced for the `neighbor_id =!= qid` condition
    // disappears. Arithmetic identical to the zip_with Column form
    // (OpsSpec equivalence + q19 oracle); ragged vectors and NULL query
    // vectors yield NULL dots like zip_with null-padding. NULL-qid rows are
    // dropped: the `neighbor_id =!= qid` join matched nothing for them.
    val qRows: Array[(Long, Array[Long])] = VectorKernels.withQuantized(
        queries.select(col("qid").cast("long").as("qid"), col("qvec"))
          .filter(col("qid").isNotNull),
        "qvec", "qq")
      .select(col("qid"), col("qq")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Long](1).toArray))
    val joined = VectorKernels.withQuantized(
        corpus.select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("_v")), "_v", "qv").drop("_v")
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (nid, qv) =>
          qRows.iterator.filter(_._1 != nid).map { case (qid, qq) =>
            val qdot: Option[Long] =
              if (qv == null || qq == null || qv.length != qq.length) None
              else {
                var s = 0L
                var i = 0
                while (i < qv.length) { s += qv(i) * qq(i); i += 1 }
                Some(s)
              }
            (qid, nid, qdot)
          }
        }
      }.toDF("qid", "neighbor_id", "qdot")
    topK(joined, k)
  }

  /** The ranking tail of every top-k here: per query, the `k` best
    * `(qid, neighbor_id, qdot)` candidates by quantized dot product, ties
    * broken by neighbor id. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank").cast("int").as("rank"),
        col("qdot"))
  }

  /** Deterministic hyperplanes as a dense ±1 matrix: sign(p, i) = +1
    * iff the first hex nibble of md5("p/i") ≥ 8 — the exact values the
    * DuckDB oracle derives with its md5 formula, but computed ONCE on the
    * driver. The signs are data-independent; evaluating them as md5
    * Column calls cost plane × dim digests per ROW (q20's dominant cost,
    * profiled). They ship in kernel closures ([[VectorKernels.withBucket]]). */
  private[graft] def planeSigns(nPlanes: Int, dim: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val d = md.digest(s"$p/$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xF) >= 8) 1L else -1L
    }
  }

  /** Embedding dimensionality probe (one-row driver lookup). */
  private def dimOf(df: DataFrame, vecCol: Column): Int =
    df.select(size(vecCol)).head().getInt(0)

  /** Exact integer squared L2 distance between a quantized vector column
    * and a driver-side centroid row. */
  private[graft] def qdist2(qv: Column, centroid: Seq[Long]): Column =
    aggregate(zip_with(qv, typedLit(centroid), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, v) => acc + v)

  /** Assign each quantized vector (`qv` column) to its nearest centroid:
    * least of `nCells` (distance, cellId) structs against the
    * driver-held, metadata-scale centroid table — exact integer L2, ties
    * toward the lower cell id, no row explosion and no shuffle. Adds
    * `cell`. */
  private[ops] def ivfAssign(vecs: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame = {
    // cents are dense (cell id = position, the seed rule); the kernel
    // picks min (distance, cell) exactly like least(struct(d, c)) did,
    // without nCells × dim interpreted lambda steps per row
    val m = cents.sortBy(_._1).map(_._2.toArray).toArray
    require(cents.sortBy(_._1).map(_._1) == cents.indices,
      "centroid ids must be dense 0..n-1")
    VectorKernels.withCell(vecs, "qv", "cell", m)
  }

  /** One deterministic Lloyd (k-means) step over the quantized grid:
    * assign every vector to its nearest centroid, then recompute each
    * centroid as the element-wise FLOOR-mean of its members (the
    * `(s - pmod(s, n)) div n` form is exact integer arithmetic, so a SQL
    * oracle reproduces it bit-for-bit; empty cells keep their previous
    * centroid). Plan shape at scale: the transpose is a posexplode to
    * (cell, pos) keys and ONE hash aggregate with map-side combine —
    * shuffle volume O(cells × dim × partitions), never O(rows × dim);
    * the collected result is the metadata-scale centroid table. */
  private[ops] def kmeansStep(vecs: DataFrame,
      cents: Seq[(Int, Seq[Long])]): Seq[(Int, Seq[Long])] = {
    val moved = ivfAssign(vecs, cents)
      .filter(col("cell").isNotNull) // ragged vectors have no cell
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr("(s - pmod(s, n)) DIV n"))
      .select(col("cell"), col("pos"), col("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    cents.map { case (cid, old) => (cid, moved.getOrElse(cid, old)) }
  }

  /** IVF ANN top-k with exact-integer ranking (oracle-gated as q30):
    * corpus vectors live in their nearest centroid's cell; each query
    * probes its `nProbe` nearest cells and ranks candidates by quantized
    * dot product. Candidates are an equi-join on cell id — never a cross
    * join; shuffle keys are cell ids. The LSH variant ([[lshTopKQuantized]])
    * trades this centroid table for hyperplanes; both are scale paths.
    *
    * Centroids: seeded from the `nCells` lowest-id corpus vectors (cell
    * id = position in that id-sorted list, so ids need not be contiguous
    * or Int-sized), then refined by `kmeansIters` deterministic Lloyd
    * steps on the integer grid ([[kmeansStep]]) — seedless, so the
    * DuckDB oracle mirrors seed choice, refinement, and assignment
    * exactly. `kmeansIters = 0` keeps the raw lowest-id seeds. */
  def ivfTopKQuantized(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 2,
      kmeansIters: Int = 1): DataFrame = {
    // quantize ONCE into a local checkpoint: the seed collect, every Lloyd
    // step, and the final assignment all read the same projection — without
    // it, each k-means iteration would rescan and re-quantize the corpus
    val qvecs = VectorKernels.withQuantized(
      corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("_v")),
      "_v", "qv").drop("_v").localCheckpoint(eager = false)
    val seeds: Seq[(Int, Seq[Long])] = qvecs
      .orderBy(col("id")).limit(nCells).collect()
      .sortBy(_.getLong(0))
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1).toSeq) }.toSeq
    val cents = (0 until kmeansIters).foldLeft(seeds) { (c, _) =>
      kmeansStep(qvecs.select(col("qv")), c)
    }
    val c = ivfAssign(qvecs.select(col("id").as("neighbor_id"), col("qv")), cents)
      .select(col("neighbor_id"), col("qv"), col("cell"))
    // per-query probe list: the nProbe nearest centroids by the same
    // integer distance, ties toward lower cell id
    val probeOf = array_sort(array(cents.map { case (cid, cv) =>
      struct(qdist2(col("qq"), cv).as("d"), lit(cid).as("c"))
    }: _*))
    val q = VectorKernels.withQuantized(
        queries.select(col("qid"), col("qvec")), "qvec", "qq").drop("qvec")
      .withColumn("cell",
        explode(transform(slice(probeOf, 1, nProbe), p => p.getField("c"))))
    val joined = VectorKernels.withQdot(
      c.join(broadcast(q), Seq("cell"))
        .filter(col("neighbor_id") =!= col("qid")),
      "qv", "qq", "qdot")
    topK(joined, k)
  }

  /** Multi-probe bucket list: the query's own bucket plus (for
    * `probeBits = 1`) every bucket at Hamming distance 1 in the
    * hyperplane signature — the standard multi-probe LSH recall/cost
    * knob: 1 + nPlanes probes per query instead of 1 + nPlanes extra
    * hash tables. Probes are distinct by construction and each corpus
    * row lives in exactly one bucket, so no candidate pair duplicates. */
  private[ops] def probeBuckets(bucket: Column, nPlanes: Int, probeBits: Int): Column =
    if (probeBits <= 0) array(bucket)
    else concat(array(bucket),
      transform(sequence(lit(0), lit(nPlanes - 1)), j =>
        bucket.bitwiseXOR(pow(lit(2.0), j.cast("double")).cast("int"))))

  /** LSH-bucketed ANN top-k with exact-integer ranking (the oracle-gated
    * variant): bucket on quantized projections, rank by quantized dot
    * product within the query's probed buckets. `probeBits = 1` probes
    * all 1-bit-flip neighbors of the query's bucket (multi-probe LSH)
    * for higher recall at candidate-set cost; 0 = single-probe. */
  def lshTopKQuantized(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, nPlanes: Int = 8, probeBits: Int = 0): DataFrame = {
    val dim = dimOf(corpus, col(vecCol))
    val signs = planeSigns(nPlanes, dim)
    val c = VectorKernels.withBucket(VectorKernels.withQuantized(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_v")),
        "_v", "qv").drop("_v"),
      "qv", "bucket", signs, dim)
    val q = VectorKernels.withBucket(VectorKernels.withQuantized(
          queries.select(col("qid"), col("qvec")), "qvec", "qq").drop("qvec"),
        "qq", "_b0", signs, dim)
      .select(col("qid"), col("qq"),
        explode(probeBuckets(col("_b0"), nPlanes, probeBits)).as("bucket"))
    val joined = VectorKernels.withQdot(
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("qid")),
      "qv", "qq", "qdot")
    topK(joined, k)
  }
}
