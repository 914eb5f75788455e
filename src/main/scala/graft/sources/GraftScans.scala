package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable

/** Manifest-entry-backed parquet scans: every read of a lake table —
  * the engine's own paths ([[LakeTable.scan]]) and the `format("graft")`
  * bound relation — plans over [[GraftEntriesFileIndex]].
  *
  * `spark.read.parquet(paths…)` builds an `InMemoryFileIndex`, which
  * issues one driver-side status/list call per path at planning — at
  * 10^5 live files on object storage that is 10^5 RPCs per read, the
  * exact per-file metadata cost the manifest exists to remove. Here the
  * `FileStatus` rows are synthesized from the manifest's recorded
  * per-file `bytes` (collected by the footer-stats pass at write time,
  * the Iceberg `file_size_in_bytes` idea), so planning a scan costs
  * ZERO filesystem metadata calls, and `listFiles` additionally prunes
  * entries against the query's data filters from the manifest's
  * per-column bounds ([[GraftPruning]]).
  *
  * The scan itself is a normal `FileSourceScanExec` over
  * [[ParquetFileFormat]]: vectorized reader, whole-stage codegen,
  * parquet row-group stats / bloom pushdown and AQE all apply. */
object GraftScans {

  /** Scan `entries` under `schema`. */
  def scanEntries(spark: SparkSession, root: String,
      entries: Seq[LakeTable#FileEntry], schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, root, entries,
      // nullable, matching DataFrameReader.schema() semantics: files
      // written before a rename/promotion legitimately miss columns, and
      // the vectorized reader hard-errors on a missing REQUIRED column
      StructType(schema.fields.map(_.copy(nullable = true))), Map.empty))

  /** Parquet relation over `entries` under `dataSchema`, passing the
    * reader `options` a caller was given. */
  def relation(spark: SparkSession, root: String, entries: Seq[LakeTable#FileEntry],
      dataSchema: StructType, options: Map[String, String]): HadoopFsRelation =
    HadoopFsRelation(
      location = new GraftEntriesFileIndex(root, entries),
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = options)(spark)
}

/** [[FileIndex]] over an explicit manifest-entry subset: statuses from
  * recorded bytes (zero FS calls), planning-time pruning from manifest
  * stats. Snapshot-stable by construction — entries are immutable. */
class GraftEntriesFileIndex(root: String, entries: Seq[LakeTable#FileEntry])
    extends FileIndex {

  private val rootHPath = new HPath(root)

  private lazy val statuses: Seq[(LakeTable#FileEntry, FileStatus)] =
    entries.map { f =>
      val p = new HPath(rootHPath, f.path)
      (f, new FileStatus(f.bytes, false, 1, f.bytes, 0L, p))
    }

  override def rootPaths: Seq[HPath] = Seq(rootHPath)

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.collect {
        case (f, st) if dataFilters.forall(GraftPruning.mayMatchCatalyst(_, f)) => st
      }.toArray))

  override def inputFiles: Array[String] =
    entries.map(f => new HPath(rootHPath, f.path).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = entries.map(_.bytes).sum
}
