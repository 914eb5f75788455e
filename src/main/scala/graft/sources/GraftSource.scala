package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, BinaryComparison, Expression, In => CIn, InSet => CInSet, Literal, Or => COr}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** `spark.read.format("graft").load(tableRoot)` — the lake table as a
  * first-class Spark data source, so plain SQL (`CREATE TEMPORARY VIEW …
  * USING graft`) and the DataFrame reader see snapshot-consistent table
  * state with MANIFEST-driven file pruning.
  *
  * Every snapshot reads through ONE manifest-backed file index,
  * [[GraftEntriesFileIndex]], whose `listFiles` answers from the
  * MANIFEST — never a directory listing (at 100 TB / object storage, LIST
  * calls and their eventual-consistency hazards are the thing a table
  * format exists to remove). Catalyst hands `listFiles` the query's data
  * filters, so `WHERE repo = 'x'` or `WHERE seq > w` prunes to the O(1)
  * overlapping files at PLANNING time using the manifest's per-file
  * `[minRepo, maxRepo]` / `[minSeq, maxSeq]` stats, and the same
  * predicates continue down into parquet row-group stats and bloom
  * filters (`PushedFilters` in the explain). [[LakeTable.needsResolution]]
  * picks the relation:
  *
  *  - no live merge-on-read delete files and no active rename mapping:
  *    the snapshot binds straight to Spark's vectorized parquet reader,
  *    a [[HadoopFsRelation]] over the index — a normal
  *    `FileSourceScanExec` whose file list came from the snapshot;
  *
  *  - otherwise a [[GraftResolvingRelation]], whose one plan is the
  *    engine's own read ([[LakeTable.scan]]: equality-delete resolution /
  *    rename coalesce over index-backed scans). [[GraftExtensions]]
  *    substitutes that plan during analysis; without it the V1
  *    `buildScan` runs the same plan under the pushed filters.
  *    Compaction/consolidation return the table to the bound relation —
  *    the scheduler's maintenance cadence directly buys back SQL scan
  *    speed.
  *
  * Options: `versionAsOf` (snapshot time travel, ≙ Iceberg
  * `VERSION AS OF`). Incremental consumption needs no option: a
  * `WHERE seq > watermark` prunes files by the manifest seq stats —
  * [[LakeTable.readSince]] expressed in plain SQL.
  *
  * Reference: the reference exposes its parquet output through a Glue
  * catalog for downstream Athena/SQL consumers
  * (`deployments/main.tf:101-132`); this connector is that hand-off
  * surface, pointed at the transactional table instead of a bare
  * directory.
  */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- streaming face: the table as a change-feed stream ---------------
  // (see GraftStreamSource for semantics)

  private def isCdf(ci: Map[String, String]): Boolean =
    ci.get("changefeed").exists(_.toBoolean)

  private def streamSchema(spark: SparkSession, ci: Map[String, String]): StructType = {
    val lake = new LakeTable(ci("path"), spark)
    val t = lake.schemaOf(lake.currentSnapshot)
    if (isCdf(ci)) LakeTable.changeFeedSchema(t) else t
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val ci = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    require(ci.contains("path"), "graft stream source requires a path")
    (shortName(), schema.getOrElse(streamSchema(sqlContext.sparkSession, ci)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val ci = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val spark = sqlContext.sparkSession
    new GraftStreamSource(spark, ci("path"),
      ci.get("startingversion").map(_.toLong),
      schema.getOrElse(streamSchema(spark, ci)),
      cdf = isCdf(ci))
  }

  /** `df.write.format("graft").mode(…).save(root)` — the TRANSACTIONAL
    * append/overwrite sink (the reference's append-only parquet sink,
    * `convert_to_parquet.py:236-238`, with a commit fence instead of
    * bare files):
    *
    *  - files are range-clustered on (repo, path) when those columns
    *    exist, so manifest pruning works on what this path writes;
    *  - the commit is the same optimistic atomic-rename loop the applier
    *    uses — concurrent writers rebase, a torn write is invisible
    *    (files without a manifest are vacuumable orphans);
    *  - `option("batchId", id)` makes the save IDEMPOTENT: a retried
    *    save with the same batchId is a metadata no-op via the
    *    applied-batch fence — Spark task retries already cannot double
    *    (the stage dir is overwritten, the commit is single). The fence
    *    window is the table's `appliedWindow` (default 128) commits:
    *    unlike applier batches, saves carry no offsets-watermark
    *    backstop, so a save retried after MORE than that many
    *    intervening commits would re-append. Streaming replays are
    *    always the most recent batch (well inside the window); a job
    *    whose retries can arrive arbitrarily late adds
    *    `option("stickyBatchId", "true")` to persist its fence in the
    *    manifest's untrimmed `saved` map instead — growth is
    *    O(sticky saves), the caller's explicit trade;
    *  - `Append` drops no file and unions schemas by name (additive
    *    evolution: old files resolve missing columns as null at read);
    *    `Overwrite` drops every file of the snapshot it read and
    *    replaces the schema (files a concurrent writer committed
    *    meanwhile survive the rebase);
    *  - either way a column under a name [[LakeTable.renameColumn]]
    *    retired joins the schema as its current name, never as itself:
    *    its files keep the physical old name and read under the current
    *    one with no rewrite (the lake's one rename rule,
    *    [[LakeTable.unionSchemas]]).
    *
    * This path writes ROWS, not CDC semantics: LWW merge stays the
    * applier's job. It is the hand-off for non-CDC producers (backfills,
    * derived tables) that still want snapshot isolation. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val ci = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = ci.getOrElse("path",
      throw new IllegalArgumentException("graft sink requires a path"))
    val spark = sqlContext.sparkSession
    val lake = new LakeTable(path, spark)
    val head = lake.currentSnapshot
    val exists = head.exists(_.dataFiles.nonEmpty)
    val proceed = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already has data: $path")
      case SaveMode.Ignore if exists => false
      case _ => true
    }
    if (proceed) {
      val keyed = data.columns.contains("repo") && data.columns.contains("path")
      val clustered =
        if (keyed) data.repartitionByRange(col("repo"), col("path")) else data
      val batchId = ci.getOrElse("batchid",
        s"save-${java.util.UUID.randomUUID().toString.take(12)}")
      val sticky = ci.get("stickybatchid").exists(_.toBoolean)
      // the commit's own replay fence (a save carries no offsets),
      // asked BEFORE the write so a replay skips the write too
      if (!head.exists(_.committed(batchId, Map.empty))) {
        val added = lake.writeDataFiles(clustered, batchId)
        val addedRows = added.map(_.rows).sum
        val renames = head.map(_.renames).getOrElse(Map.empty[String, String])
        mode match {
          case SaveMode.Overwrite =>
            lake.commit(batchId, Map.empty,
              LakeTable.unionSchemas(StructType(Nil), data.schema, renames),
              head.toSeq.flatMap(_.files), added, head, Map("rowsAfter" -> addedRows),
              sticky = sticky)
          case _ =>
            val schema = LakeTable.unionSchemas(
              head.map(_.schema).getOrElse(StructType(Nil)), data.schema, renames)
            lake.commit(batchId, Map.empty, schema, Nil, added, head,
              Map("rowsAfter" -> (head.map(_.liveRows).getOrElse(0L) + addedRows)),
              sticky = sticky)
        }
        ()
      }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val ci = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = ci.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))
    val spark = sqlContext.sparkSession
    if (ci.get("merge").exists(_.toBoolean))
      return new GraftMergeRelation(spark, path,
        mergeOnRead = ci.get("mergeonread").exists(_.toBoolean))
    val lake = new LakeTable(path, spark)
    val snap = ci.get("versionasof").map(v => lake.snapshot(v.toLong))
      .orElse(lake.currentSnapshot)
    snap match {
      case Some(s) if !lake.needsResolution(s, s.schema) =>
        GraftScans.relation(spark, lake.root, s.dataFiles, s.schema, parameters)
      // an uninitialised table root reads empty under the engine schema
      case _ => new GraftResolvingRelation(spark, lake.schemaOf(snap), lake.scan(snap))
    }
  }
}

/** Relation for a snapshot whose state a bare file scan cannot reproduce
  * (live merge-on-read delete files / active rename mapping) — and for an
  * uninitialised table (empty). `plan` is the engine read of the
  * snapshot ([[LakeTable.scan]]), under `schema`. */
class GraftResolvingRelation(spark: SparkSession, override val schema: StructType,
    plan: => DataFrame) extends BaseRelation with PrunedFilteredScan {

  /** The relation's only plan, built once: delete resolution + rename
    * coalesce over manifest-backed scans. [[GraftResolveMorRule]]
    * substitutes it for this relation when the session runs with
    * [[GraftExtensions]], keeping the whole read columnar; [[buildScan]]
    * evaluates it otherwise. */
  private[sources] lazy val resolvedPlan: DataFrame = plan

  override def sqlContext: SQLContext = spark.sqlContext

  /** [[resolvedPlan]] under the translatable filters: Catalyst pushes them
    * down to the index-backed scans, where they prune files and row
    * groups. Spark re-applies every filter above (the [[BaseRelation]]
    * default), so an untranslatable one costs IO, never correctness. */
  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] =
    GraftPruning.toColumns(filters.toSeq).foldLeft(resolvedPlan)(_.filter(_))
      .select(requiredColumns.toSeq.map(col): _*).rdd
}

/** The SQL MERGE face (the reference's Athena-over-Glue-catalog hand-off
  * surface, `deployments/main.tf:101-132`, writable):
  *
  * {{{
  *   CREATE TEMPORARY VIEW t
  *   USING graft OPTIONS (path '<root>', merge 'true'[, mergeOnRead 'true'])
  *   INSERT INTO t SELECT repo, path, commit, lang, content, seq FROM src
  * }}}
  *
  * `INSERT INTO` routes the rows through the full CDC apply
  * ([[graft.apply.CdcApplier.applyBatch]]): offsets fence → LWW MERGE →
  * atomic snapshot commit — `MERGE INTO`-shaped upsert semantics from
  * plain SQL, not a file append. Rows arrive under the VIEW's schema
  * (positional SQL INSERT), so they carry no `op`/`part` columns: every
  * row is an UPSERT on source partition `"sql"` (stale seqs lose the LWW
  * merge exactly like any other stale change; deletions need the applier
  * API or the wire pipeline, which carry `op`). `INSERT OVERWRITE` is
  * refused — the plain sink's Overwrite mode is the truncating path.
  *
  * READS through the view resolve the head snapshot AT SCAN TIME (not
  * view creation), so `INSERT INTO t; SELECT … FROM t` observes its own
  * writes — the session-catalog behavior a SQL user expects. The view's
  * COLUMN SET is pinned at creation (the standard temp-view contract);
  * recreate the view to pick up promoted columns. */
class GraftMergeRelation(spark: SparkSession, root: String,
    mergeOnRead: Boolean) extends BaseRelation
    with PrunedFilteredScan with InsertableRelation {

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = {
    val lake = new LakeTable(root, spark)
    lake.schemaOf(lake.currentSnapshot)
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val lake = new LakeTable(root, spark)
    val head = lake.currentSnapshot
    new GraftResolvingRelation(spark, lake.schemaOf(head), lake.scan(head))
      .buildScan(requiredColumns, filters)
  }

  override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    if (overwrite) throw new UnsupportedOperationException(
      "INSERT OVERWRITE into a graft merge view is not supported; " +
        "use df.write.format(\"graft\").mode(\"overwrite\") to replace the table")
    val lake = new LakeTable(root, spark)
    val withMeta = Seq("op" -> lit(graft.core.Model.Op.Update),
      "part" -> lit("sql")).foldLeft(data) {
      case (df, (c, v)) => if (df.columns.contains(c)) df else df.withColumn(c, v)
    }
    new graft.apply.CdcApplier(lake, spark, mergeOnRead = mergeOnRead)
      .applyBatch(withMeta,
        s"sql-insert-${java.util.UUID.randomUUID().toString.take(12)}")
    ()
  }
}

/** File pruning from query predicates against manifest stats — sound
  * ("may the file contain a matching row?") over the per-COLUMN bounds
  * the manifest carries: `repo` string range and `seq` long range.
  * `path` has no bound in the manifest (a composite "repo path" bound is
  * not sound — see [[LakeTable.lookupKeys]]), so path predicates never
  * prune files here; they still prune row groups inside parquet.
  * Anything unrecognised keeps the file. */
object GraftPruning {

  type Entry = LakeTable#FileEntry

  /** May column `name` of file `f` hold a value `x` with `x op v`? THE
    * bounds comparison: where `v` lies against the file's [min, max] of
    * `repo` (String) or `seq` (Long). Unknown columns, literal types and
    * operators keep the file; unknown seq stats are stored as the
    * [Long.MinValue, Long.MaxValue] sentinels, so they keep it too. */
  private def mayHold(f: Entry, name: String, op: String, v: Any): Boolean = {
    val vsBounds: Option[(Int, Int)] = (name, v) match { // (v vs min, v vs max)
      case ("repo", s: String) => Some((s.compareTo(f.minRepo), s.compareTo(f.maxRepo)))
      case ("seq", n: Number) => Some((java.lang.Long.compare(n.longValue, f.minSeq),
        java.lang.Long.compare(n.longValue, f.maxSeq)))
      case _ => None
    }
    vsBounds.forall { case (lo, hi) =>
      op match {
        case "=" => lo >= 0 && hi <= 0
        case ">" => hi < 0
        case ">=" => hi <= 0
        case "<" => lo > 0
        case "<=" => lo >= 0
        case _ => true
      }
    }
  }

  /** `v op col` ≡ `col flipped(op) v`. */
  private val flipped = Map(">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=")

  // ---- catalyst expression face (the FileIndex path) -------------------

  /** Literal → external value (UTF8String → String, integrals → Long). */
  private def ext(e: Expression): Option[Any] = e match {
    case Literal(u: UTF8String, _) => Some(u.toString)
    case Literal(n: java.lang.Number, _) => Some(n)
    case _ => None
  }

  private[sources] def mayMatchCatalyst(e: Expression, f: Entry): Boolean = e match {
    case CAnd(l, r) => mayMatchCatalyst(l, f) && mayMatchCatalyst(r, f)
    case COr(l, r) => mayMatchCatalyst(l, f) || mayMatchCatalyst(r, f)
    case c: BinaryComparison => (c.left, c.right) match {
      case (a: AttributeReference, v) => ext(v).forall(mayHold(f, a.name, c.symbol, _))
      case (v, a: AttributeReference) =>
        ext(v).forall(mayHold(f, a.name, flipped.getOrElse(c.symbol, c.symbol), _))
      case _ => true
    }
    case CIn(a: AttributeReference, vs) =>
      val lits = vs.flatMap(ext)
      lits.size != vs.size || lits.exists(mayHold(f, a.name, "=", _))
    case CInSet(a: AttributeReference, hset) =>
      hset.exists { v =>
        mayHold(f, a.name, "=", v match { case u: UTF8String => u.toString; case o => o })
      }
    case _ => true
  }

  // ---- V1 sources.Filter face (the resolving relation's buildScan) ------

  /** Best-effort translation of V1 filters back to Columns, applied on
    * the resolving relation's plan. Untranslatable filters are simply
    * skipped — Spark re-applies all of them above. */
  def toColumns(filters: Seq[Filter]): Seq[Column] = filters.flatMap(toColumn)

  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNotNull(a) => Some(col(a).isNotNull)
    case IsNull(a) => Some(col(a).isNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
