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
  *  - a vector with a NULL element quantizes to a NULL vector, so its
  *    dot products, bucket, cell and probes are NULL, as for a ragged
  *    vector (the Column form's `round(NULL)` element poisoned every sum
  *    over it the same way);
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

  /** Append `out` = round(vec·1000) per element (array<long>); a NULL
    * vec or a vec with a NULL element ⇒ NULL. On vectors without NULL
    * elements ≡ `transform(v, x => round(x.cast(double)*1000).cast(long))`. */
  def withQuantized(df: DataFrame, vecCol: String, out: String): DataFrame = {
    val vi = df.schema.fieldIndex(vecCol)
    addCol(df, out, ArrayType(LongType)) { r =>
      if (r.isNullAt(vi)) null
      else {
        val v = r.getSeq[Any](vi)
        val q = new Array[Long](v.length)
        var i = 0
        while (i < v.length && v(i) != null) {
          q(i) = roundHalfUp(v(i).asInstanceOf[Number].doubleValue() * 1000.0)
          i += 1
        }
        if (i < v.length) null else q
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

  /** Exact integer squared L2: the one distance of cells and probes. */
  private def dist2(v: Seq[Long], cv: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < v.length) { val x = v(i) - cv(i); s += x * x; i += 1 }
    s
  }

  /** Append `out` = `f(v)` for each vector `v` of `qvCol`; NULL for a
    * NULL vector, with no centroid, or when `v`'s length differs from a
    * centroid's (its distance is NULL under zip_with null-padding). */
  private def byCells(df: DataFrame, qvCol: String, out: String,
      t: org.apache.spark.sql.types.DataType, cents: Array[Array[Long]])(
      f: Seq[Long] => Any): DataFrame = {
    val vi = df.schema.fieldIndex(qvCol)
    addCol(df, out, t) { r =>
      if (r.isNullAt(vi)) null
      else {
        val v = r.getSeq[Long](vi)
        if (cents.isEmpty || cents.exists(_.length != v.length)) null else f(v)
      }
    }
  }

  /** Append `out` = nearest centroid id by [[dist2]], ties toward the
    * lower cell id; a NULL cell ([[byCells]]) drops out of the cell
    * equi-join like a ragged vector's NULL bucket. Centroids must be
    * dense in cell order. */
  def withCell(df: DataFrame, qvCol: String, out: String,
      cents: Array[Array[Long]]): DataFrame =
    byCells(df, qvCol, out, IntegerType, cents) { v =>
      var best = Long.MaxValue
      var bestC = -1
      var c = 0
      while (c < cents.length) {
        val d = dist2(v, cents(c))
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      bestC
    }

  /** Append `out` = the ids of the `nProbe` nearest centroids, nearest
    * first, by the distance [[withCell]] assigns by, ties toward the
    * lower cell id; a NULL or ragged query ([[byCells]]) probes no cell.
    * Centroids must be dense in cell order. */
  def withProbes(df: DataFrame, qvCol: String, out: String,
      cents: Array[Array[Long]], nProbe: Int): DataFrame =
    byCells(df, qvCol, out, ArrayType(IntegerType), cents) { v =>
      val d = cents.map(dist2(v, _))
      // a stable sort: of equally distant cells the lower comes first
      cents.indices.sortBy(d(_)).take(nProbe).toArray
    }
}
