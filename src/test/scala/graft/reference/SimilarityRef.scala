package graft.reference

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test-only reference forms of the similarity operators: the Column
  * higher-order-function expressions that [[graft.ops.VectorKernels]]
  * replaced (kernel equivalence specs compare against them) and an exact
  * float-cosine brute-force ranking (the ground truth the quantized ANN
  * paths are checked against). */
object SimilarityRef {

  /** Σ aᵢ·bᵢ in double (left-to-right, deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries(qid, qvec)` is broadcast; corpus never shuffles until the
    * per-query top-k reduction (k rows per query). */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val joined = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .join(broadcast(queries.select(col("qid"), col("qvec"))),
        col("neighbor_id") =!= col("qid"))
      .withColumn("cos", cosine(col("vec"), col("qvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Quantize to integer grid: round(x*1000) as bigint per element. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Integer dot product of two quantized vectors — exact in any engine. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Exact integer squared L2 distance between a quantized vector column
    * and a driver-side centroid row (NULL for a length mismatch, under
    * zip_with null-padding). */
  def qdist2(qv: Column, centroid: Seq[Long]): Column =
    aggregate(zip_with(qv, typedLit(centroid), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, v) => acc + v)

  /** The `nProbe` nearest cells of `qv` by [[qdist2]], nearest first,
    * ties toward the lower cell id: the Column form of IVF probing that
    * [[graft.ops.VectorKernels.withProbes]] replaced (`cents` row = cell
    * id). */
  def ivfProbes(qv: Column, cents: Seq[Seq[Long]], nProbe: Int): Column =
    transform(slice(array_sort(array(cents.zipWithIndex.map { case (cv, c) =>
      struct(qdist2(qv, cv).as("d"), lit(c).as("c"))
    }: _*)), 1, nProbe), p => p.getField("c"))

  /** Integer-exact sign-random-projection bucket over the quantized
    * vector against the hyperplanes of
    * [[graft.ops.Similarity.lshTopKQuantized]]: the projection is an
    * exact integer sum, bit-identical in any engine. */
  def lshBucketQ(qvec: Column, nPlanes: Int, dim: Int): Column = {
    val planes = graft.ops.Similarity.planeSigns(nPlanes, dim)
    val bits = (0 until nPlanes).map { p =>
      val signs = typedLit(planes(p).toSeq: Seq[Long])
      val proj = aggregate(zip_with(qvec, signs, (x, s) => x * s),
        lit(0L), (acc, v) => acc + v)
      when(proj >= 0, lit(1)).otherwise(lit(0))
    }
    val packed = bits.zipWithIndex.map { case (b, i) => b * (1 << (nPlanes - 1 - i)) }
      .reduce(_ + _)
    // ragged vector → NULL bucket → drops out of the equi-join (a null
    // projection would otherwise fall through otherwise(0) into bucket 0)
    when(size(qvec) === dim, packed)
  }
}
