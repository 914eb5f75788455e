package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to ONE `private[sql]` Spark API,
  * `internalCreateDataFrame(rdd, schema, isStreaming)`: a DataFrame over
  * an already-planned InternalRow RDD in a session the caller chooses,
  * with no decode/re-encode of the rows. It has two users:
  *  - `Source.getBatch` ([[graft.sources.GraftStreamSource]]):
  *    `MicroBatchExecution` asserts that a V1 source's batch has
  *    `isStreaming = true`, and this call is the only way to build one —
  *    it is how Spark's own `KafkaSource` builds its batches;
  *  - `CdcStream.drive` (`isStreaming = false`): each `foreachBatch`
  *    micro-batch is re-rooted from the stream's cloned session into the
  *    session that started the stream, so the apply path reuses that
  *    session's generated code instead of recompiling it per run.
  * This object lives in the `org.apache.spark.sql` package solely to
  * satisfy the `private[sql]` access check (the long-standing connector
  * idiom); it adds no behavior. Everything else in this repository uses
  * public APIs. */
object GraftSparkInternals {

  /** Wrap a lazily-evaluated InternalRow RDD as a DataFrame of `spark`;
    * `isStreaming` tags it for `Source.getBatch`. */
  def dataFrame(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)
}
