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

  /** Most query rows [[quantizedDotTopK]] collects to the driver. */
  val MaxQueryRows = 10000

  /** A query table above [[quantizedDotTopK]]'s driver-side bound. */
  final class QueryTableTooLargeException(val rows: Long, val bound: Int)
    extends IllegalArgumentException(
      s"query table has $rows non-NULL-qid rows, above the bound of $bound " +
        "that quantizedDotTopK collects to the driver")

  /** Top-k by quantized dot product (oracle-parity variant): ranking on
    * exact integers, ties broken by neighbor id. The query table is
    * collected to the driver, at most [[MaxQueryRows]] rows of it: a larger
    * one fails with [[QueryTableTooLargeException]] before any scoring. */
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
    // At most MaxQueryRows + 1 rows reach the driver; one more row than
    // the bound fails with the table's count (a job run only then)
    // instead of an OOM. The limited collect scans partitions in growing
    // batches, one job each, until it has MaxQueryRows + 1 rows or has
    // read every partition: one job over a one-partition query table
    // (q19's), several over a table of many partitions and few rows, each
    // running the query side's upstream on its own partitions.
    val qTable = queries.select(col("qid").cast("long").as("qid"), col("qvec"))
      .filter(col("qid").isNotNull)
    val qRows: Array[(Long, Array[Long])] = VectorKernels.withQuantized(qTable, "qvec", "qq")
      .select(col("qid"), col("qq")).limit(MaxQueryRows + 1).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Long](1).toArray))
    if (qRows.length > MaxQueryRows)
      throw new QueryTableTooLargeException(qTable.count(), MaxQueryRows)
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

  /** The driver-held, metadata-scale centroid table as the kernels'
    * matrix: row = cell id. Cell ids must be dense (cell id = position,
    * the seed rule). */
  private def centroidMatrix(cents: Seq[(Int, Seq[Long])]): Array[Array[Long]] = {
    require(cents.sortBy(_._1).map(_._1) == cents.indices,
      "centroid ids must be dense 0..n-1")
    cents.sortBy(_._1).map(_._2.toArray).toArray
  }

  /** Assign each quantized vector (`qv` column) to its nearest centroid
    * ([[VectorKernels.withCell]]: exact integer L2, ties toward the lower
    * cell id, no row explosion and no shuffle). Adds `cell`. */
  private[ops] def ivfAssign(vecs: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame =
    VectorKernels.withCell(vecs, "qv", "cell", centroidMatrix(cents))

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
    // per-query probe list: the nProbe nearest centroids from the loop
    // that assigned the corpus, ties toward lower cell id; a NULL or
    // ragged query vector probes no cell
    val q = VectorKernels.withProbes(VectorKernels.withQuantized(
        queries.select(col("qid"), col("qvec")), "qvec", "qq").drop("qvec"),
      "qq", "_probes", centroidMatrix(cents), nProbe)
      .select(col("qid"), col("qq"), explode(col("_probes")).as("cell"))
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
