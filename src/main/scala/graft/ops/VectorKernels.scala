package graft.ops

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, ArrayType, StructType}

/** Row-local vector kernels behind the similarity operators (quantize,
  * integer dot products, hyperplane buckets, centroid assignment).
  *
  * Same rationale as [[TextKernels]] (guide §1.2 step 2): every one of
  * these is a pure per-row function over one embedding, but the Column
  * formulation needs `aggregate`/`zip_with` higher-order lambdas, which
  * Spark evaluates interpreted — q30's centroid assignment alone ran
  * ~2M lambda steps per pass, dominated by closure dispatch, and paid
  * the JIT-cold penalty once per bench run. The kernels are plain JVM
  * loops appended to the row via `mapPartitions` with a Row encoder, so
  * the surrounding plan (broadcast joins, windows, aggregates) is
  * unchanged.
  *
  * Exactness contract (oracle-gated by q19/q20/q29/q30):
  *  - quantization replicates Spark's `round(x·1000)` for doubles —
  *    `BigDecimal.valueOf` (decimal string) + HALF_UP, NOT the exact
  *    binary value, matching Catalyst's RoundBase;
  *  - integer dot/distance sums are exact longs, NULL when either side
  *    is NULL or lengths differ (zip_with null-padding semantics);
  *  - bucket/cell ties and packing mirror the Column forms bit-for-bit
  *    (the test-side reference expressions and the oracle SQL).
  */
private[graft] object VectorKernels {

  private def addCol(df: DataFrame, out: String,
      t: org.apache.spark.sql.types.DataType)(
      f: Row => Any): DataFrame = {
    val schema = StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(out, t, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions(it => it.map(r => Row.fromSeq(r.toSeq :+ f(r))))(enc)
  }

  /** Spark `round(x, 0)` for doubles: decimal-string BigDecimal, HALF_UP. */
  def roundHalfUp(v: Double): Long =
    java.math.BigDecimal.valueOf(v).setScale(0, RoundingMode.HALF_UP).longValue()

  /** Append `out` = round(vec·1000) per element (array<long>); NULL vec
    * ⇒ NULL. ≡ `transform(v, x => round(x.cast(double)*1000).cast(long))`. */
  def withQuantized(df: DataFrame, vecCol: String, out: String): DataFrame = {
    val vi = df.schema.fieldIndex(vecCol)
    addCol(df, out, ArrayType(LongType)) { r =>
      if (r.isNullAt(vi)) null
      else {
        val v = r.getSeq[Any](vi)
        val q = new Array[Long](v.length)
        var i = 0
        while (i < v.length) {
          val x = v(i)
          if (x == null) sys.error(s"null element in $vecCol")
          q(i) = roundHalfUp(x.asInstanceOf[Number].doubleValue() * 1000.0)
          i += 1
        }
        q
      }
    }
  }

  /** Append `out` = Σ aᵢ·bᵢ over long arrays; NULL when either side is
    * NULL or lengths differ (≡ aggregate(zip_with(a,b,_*_),0,+) whose
    * null-padding poisons the sum). */
  def withQdot(df: DataFrame, aCol: String, bCol: String, out: String): DataFrame = {
    val ai = df.schema.fieldIndex(aCol)
    val bi = df.schema.fieldIndex(bCol)
    addCol(df, out, LongType) { r =>
      if (r.isNullAt(ai) || r.isNullAt(bi)) null
      else {
        val a = r.getSeq[Long](ai)
        val b = r.getSeq[Long](bi)
        if (a.length != b.length) null
        else {
          var s = 0L
          var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
      }
    }
  }

  /** Append `out` = packed sign-projection bucket of the quantized
    * vector against `signs` (one ±1 row per plane, MSB-first packing);
    * NULL for ragged vectors (length ≠ dim), so they drop out of the
    * bucket equi-join. */
  def withBucket(df: DataFrame, qvCol: String, out: String,
      signs: Array[Array[Long]], dim: Int): DataFrame = {
    val vi = df.schema.fieldIndex(qvCol)
    val nPlanes = signs.length
    addCol(df, out, IntegerType) { r =>
      if (r.isNullAt(vi)) null
      else {
        val v = r.getSeq[Long](vi)
        if (v.length != dim) null
        else {
          var packed = 0
          var p = 0
          while (p < nPlanes) {
            val row = signs(p)
            var proj = 0L
            var i = 0
            while (i < dim) { proj += v(i) * row(i); i += 1 }
            if (proj >= 0) packed |= 1 << (nPlanes - 1 - p)
            p += 1
          }
          packed
        }
      }
    }
  }

  /** Append `out` = nearest centroid id by exact integer squared L2,
    * ties toward the lower cell id (the argmin of [[Similarity.qdist2]]).
    * NULL for a vector whose length differs from a centroid's — its
    * distance is NULL under zip_with null-padding, so it drops out of
    * the cell equi-join like a ragged vector's NULL bucket. Centroids
    * must be dense in cell order. */
  def withCell(df: DataFrame, qvCol: String, out: String,
      cents: Array[Array[Long]]): DataFrame = {
    val vi = df.schema.fieldIndex(qvCol)
    addCol(df, out, IntegerType) { r =>
      if (r.isNullAt(vi)) null
      else {
        val v = r.getSeq[Long](vi)
        if (cents.exists(_.length != v.length)) null
        else {
          var best = Long.MaxValue
          var bestC = -1
          var c = 0
          while (c < cents.length) {
            val cv = cents(c)
            var d = 0L
            var i = 0
            while (i < v.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
            if (d < best) { best = d; bestC = c }
            c += 1
          }
          bestC
        }
      }
    }
  }
}
