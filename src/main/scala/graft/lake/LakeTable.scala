package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{ArrayList => JArrayList, LinkedHashMap => JLinkedHashMap, List => JList, Map => JMap}
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Native Iceberg-style table format: an immutable snapshot log of parquet
  * data files + JSON manifests + atomic-rename commits.
  *
  * No Iceberg/Delta runtime jars exist in this sandbox (SURVEY.md §7.0),
  * so the table format is implemented from first principles behind this
  * small class; on a real cluster the `iceberg-spark-runtime` catalog can
  * replace it without touching the applier. Design follows the published
  * Iceberg spec concepts: snapshot isolation via an ordered version log,
  * file-level stats for pruning, commit = atomic metadata swap.
  *
  * Layout under `root/`:
  *   data/<name>.parquet        — immutable data files
  *   meta/v<N>.json             — snapshot manifest N (atomic-rename created)
  *
  * A manifest carries: schema, live file list with per-file stats
  * (min/max of repo and of seq), the checkpoint offsets
  * `{sourcePartition -> lastAppliedSeq}`, the cumulative applied-batch
  * fence map, and lineage counters.
  *
  * Exactly-once: the manifest is created with `Files.createLink` (hard
  * link from a tmp file), which atomically fails EEXIST if `v<N>.json`
  * already exists — the optimistic-concurrency fence. (A plain
  * `Files.move(..., ATOMIC_MOVE)` maps to rename(2) on Linux, which
  * silently REPLACES the target — two racing committers would both
  * "succeed" and one snapshot would be clobbered.) Every writer states
  * its intent as (files dropped, files added) against the snapshot it
  * read; a lost race is RETRIED optimistically: [[commit]] re-reads the
  * head, revalidates, applies the same intent to the new head
  * (`head.files − dropped ++ added`) and re-links — so compaction and
  * snapshot expiry can overlap ingest; only failed revalidation (a true
  * conflict) raises
  * [[java.util.ConcurrentModificationException]]. Manifest bytes and the meta dir are
  * fsynced before the link lands (crash durability). Current version =
  * max N present (a crash after data-file write but before the manifest
  * link leaves only unreferenced orphan files — invisible, GC-able).
  * Re-committing a `(batchId, offsets)` already in the fence map is a
  * no-op (idempotent replay; ≙ the reference's run-properties ledger,
  * `update_workflow_properties.py:34-65`, made transactional). The fence
  * map is bounded to the most recent `appliedWindow` batches — older
  * replays are still no-ops because every event's `seq` falls at-or-below
  * the committed per-partition offsets watermark (the primary fence);
  * without the bound each commit would rewrite an ever-growing map after
  * 10^6 micro-batches.
  */
class LakeTable(val root: String, spark: SparkSession,
    val appliedWindow: Int = 128, val chunkSize: Int = 512) {

  // created by the first write ([[writeDataFilesKinded]], [[writeManifest]]):
  // opening or reading a table never creates one
  private val metaDir = Paths.get(root, "meta")
  private val dataDir = Paths.get(root, "data")

  /** Parsed manifest CHUNKS by file name — chunk files are immutable, so
    * the cache is always valid. Bounded by live metadata size:
    * [[writeManifest]] evicts chunks its commit stops referencing, and
    * [[expireSnapshots]] evicts chunks it deletes. */
  private val chunkCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[FileEntry]]

  /** Chunk files this instance has parsed (test observability for the
    * lookup path's chunk-level pruning). */
  private[lake] def parsedChunks: Set[String] = chunkCache.keySet.toSet

  /** One immutable file in a snapshot. `kind` is `"data"` (table rows)
    * or `"delete"` (merge-on-read equality-delete entries: one
    * `(repo, path, seq, commit)` row per superseded key, carrying the
    * key's WINNING version — a data row is live iff no delete entry for
    * its key is strictly newer; see [[resolveDeletes]]). */
  /** `bytes` is the file's on-disk size, recorded at write time from the
    * same footer-stats pass — so planning (scan statistics, split
    * sizing, byte-targeted compaction) never issues a per-file
    * `getFileStatus` RPC: at 10^5 files on object storage that is 10^5
    * HEAD requests per query plan, exactly the per-file metadata cost a
    * manifest exists to remove (Iceberg stores `file_size_in_bytes` for
    * the same reason). */
  case class FileEntry(path: String, rows: Long, minRepo: String, maxRepo: String,
      minSeq: Long = Long.MinValue, maxSeq: Long = Long.MaxValue,
      kind: String = "data", bytes: Long)

  /** `renames` is the cumulative column-rename mapping: RETIRED (old)
    * name → CURRENT name, chain-collapsed (after a→b then b→c it holds
    * {a→c, b→c}). Data files are immutable, so files written before a
    * rename physically carry the old column name, and so may late
    * producers' rows. The one rename rule: a stored or late retired name
    * reads as its current name ([[LakeTable.conform]]), and a retired
    * name never becomes a column again ([[renameColumn]],
    * [[LakeTable.unionSchemas]]) — zero rewrite, the Iceberg name-mapping
    * idea at manifest granularity. */
  /** Reference to one immutable manifest chunk file plus aggregate stats
    * over its entries, recorded in the MANIFEST — so a reader can decide
    * whether a chunk is relevant without opening it. `kind` is `"data"`
    * or `"delete"` ([[writeManifest]] never mixes kinds in one chunk). */
  case class ChunkRef(name: String, n: Int, kind: String,
      minRepo: String, maxRepo: String, minSeq: Long, maxSeq: Long)

  /** `chunkRefs` is the file list's physical layout, the two-level
    * Iceberg manifest-list idea. A commit re-references every chunk
    * whose entries all survive and writes new chunk files only for
    * added/disturbed entries — per-commit metadata WRITE is O(delta +
    * affected chunks), not O(all files), which is what survives 10^6
    * micro-batches against a 10^5-file table. `files` materializes
    * lazily, so paths that need only commit metadata (fence checks,
    * lineage) or only a range slice ([[lookupKeys]]) never parse the
    * whole list. */
  /** `saved` is the STICKY batch-fence map: unlike `applied` (trimmed to
    * the newest [[appliedWindow]] entries, backstopped by the offsets
    * watermark), entries here are never trimmed — the fence for
    * offset-less writers (the `format("graft")` sink's explicit-batchId
    * saves) whose replays may arrive arbitrarily many commits later.
    * Growth is O(sticky saves), a deliberate cost the caller opts into
    * per save. */
  case class Snapshot(version: Long, schema: StructType,
      offsets: Map[String, Long], applied: Map[String, String],
      lineage: Map[String, Long], batchId: String = "",
      renames: Map[String, String] = Map.empty,
      chunkRefs: Seq[ChunkRef] = Nil,
      saved: Map[String, String] = Map.empty) {
    lazy val files: Seq[FileEntry] = chunkRefs.flatMap(c => readChunk(c.name))
    def dataFiles: Seq[FileEntry] = files.filter(_.kind == "data")
    /** Delete entries only — reads delete chunks, never data ones (delete
      * chunks are few after [[consolidateDeletes]]), so read-side delete
      * resolution costs O(delete metadata). */
    lazy val deleteFiles: Seq[FileEntry] =
      chunkRefs.filter(_.kind == "delete").flatMap(c => readChunk(c.name))

    /** THE replay fence: whether `(batchId, offsets)` is already committed
      * in this snapshot's windowed `applied` map or its sticky `saved`
      * one. [[commit]] and the `format("graft")` sink's pre-write check
      * both ask here. */
    def committed(batchId: String, offsets: Map[String, Long]): Boolean = {
      val fence = LakeTable.fence(offsets)
      applied.get(batchId).contains(fence) || saved.get(batchId).contains(fence)
    }

    /** Live rows of this snapshot: the `rowsAfter` its commit recorded,
      * else the sum of its data-file rows. The lineage value is the exact
      * one — on a merge-on-read table the file sum still counts every
      * superseded version. */
    def liveRows: Long = lineage.getOrElse("rowsAfter", dataFiles.map(_.rows).sum)
  }

  private val mapper = new ObjectMapper()

  // ---- version log ----------------------------------------------------

  /** All manifest versions present on disk, ascending (after
    * [[expireSnapshots]] this starts at the oldest KEPT version, not 0);
    * empty for a root no write has created. */
  def versions: Seq[Long] = if (!Files.isDirectory(metaDir)) Nil else {
    val s = Files.list(metaDir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption }
      .flatten.toSeq.sorted
    finally s.close()
  }

  def currentVersion: Option[Long] = versions.lastOption

  def snapshot(version: Long): Snapshot = readManifest(metaDir.resolve(s"v$version.json"), version)

  def currentSnapshot: Option[Snapshot] = currentVersion.map(snapshot)

  // ---- read -----------------------------------------------------------

  /** Read the table at the current (or a time-travel) snapshot. Missing
    * columns in old files resolve to null under the snapshot schema
    * (additive schema evolution). Merge-on-read delete files, if any,
    * are applied at scan ([[resolveDeletes]]). */
  def read(version: Option[Long] = None): DataFrame = scan(at(version))

  /** The snapshot at `version`, or the current one. */
  private def at(version: Option[Long]): Option[Snapshot] =
    version.map(snapshot).orElse(currentSnapshot)

  /** Schema of a read of `snap`: the snapshot's, or the engine's lake
    * schema when the table has no snapshot yet. */
  def schemaOf(snap: Option[Snapshot]): StructType =
    snap.map(_.schema).getOrElse(graft.core.Model.lakeSchemaV1)

  /** Whether a read of `s` under `schema` takes more than a plain scan of
    * its data files: live merge-on-read delete files, or a rename into a
    * column of `schema` whose retired name files may still carry. Decided
    * here only — [[scan]] and the `format("graft")` relation both ask. */
  def needsResolution(s: Snapshot, schema: StructType): Boolean =
    s.deleteFiles.nonEmpty || s.renames.values.exists(schema.fieldNames.contains)

  /** THE read from snapshot to rows; every engine read and the
    * `format("graft")` relations go through it. `subset` (data entries of
    * `snap`) defaults to all of them, `schema` to [[schemaOf]]. `rows`
    * narrows the data scan BEFORE delete resolution — sound because a
    * row's survival depends only on the delete files, never on other
    * rows — so key filters reach parquet. An empty subset reads as an
    * empty frame under the schema. Otherwise renamed columns are mapped
    * ([[readDataFiles]]) and deletes resolved ([[resolveDeletes]]) with
    * the delete files pruned to the subset's repo ranges; a whole-table
    * read keeps every delete file (no files × delete-files check). */
  private[graft] def scan(snap: Option[Snapshot], subset: Option[Seq[FileEntry]] = None,
      schema: Option[StructType] = None,
      rows: DataFrame => DataFrame = identity): DataFrame = {
    val sch = schema.getOrElse(schemaOf(snap))
    val files = subset.orElse(snap.map(_.dataFiles)).getOrElse(Nil)
    snap match {
      case Some(s) if files.nonEmpty && needsResolution(s, sch) =>
        resolveDeletes(rows(readDataFiles(files, sch, s.renames)), s, subset)
      case Some(_) if files.nonEmpty => rows(readEntries(files, sch))
      case _ => emptyFrame(sch)
    }
  }

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Scan a set of data files under `schema`, mapping RENAMED columns:
    * the scan schema gains every retired name whose current name is in
    * `schema` (same type, nullable), and [[LakeTable.conform]] folds them
    * into the current name. Any one file physically contains at most ONE
    * of a rename chain's names (the name current at its write time), or,
    * for a late producer's append, the current name wins. A retired name
    * that is also a column of `schema` is not added: `renameColumn` no
    * longer produces one, but older manifests hold a rename back (a→b
    * then b→a gave {a→a, b→a}), and they still read. A plain scan when
    * no rename targets `schema`. */
  private def readDataFiles(files: Seq[FileEntry], schema: StructType,
      renames: Map[String, String]): DataFrame = {
    val extras = renames.toSeq.sorted.collect {
      case (o, n) if schema.fieldNames.contains(n) && !schema.fieldNames.contains(o) =>
        org.apache.spark.sql.types.StructField(o, schema(n).dataType, nullable = true)
    }
    if (extras.isEmpty) readEntries(files, schema)
    else {
      val df = readEntries(files, StructType(schema.fields ++ extras))
      df.select(LakeTable.conform(df, schema, renames): _*)
    }
  }

  /** Scan an explicit manifest-entry subset under `schema` through the
    * manifest-backed index ([[graft.sources.GraftScans]]): the plan is
    * built with ZERO filesystem metadata calls and file-level predicate
    * pruning from manifest stats. Used by every engine path that reads a
    * pruned file subset (delete files, merge-on-read key columns). */
  private[graft] def readEntries(files: Seq[FileEntry], schema: StructType): DataFrame =
    graft.sources.GraftScans.scanEntries(spark, root, files, schema)

  /** Apply a snapshot's merge-on-read delete files to a data scan
    * ([[LakeTable.undeleted]]). No-op when the snapshot has no delete
    * files (pure copy-on-write history).
    *
    * `scanned` (the data files `data` actually reads, when the caller
    * pruned them — point lookups, incremental feeds) prunes the DELETE
    * side too: a delete file whose [minRepo, maxRepo] overlaps none of
    * the scanned files' ranges cannot kill any scanned row, so a point
    * read against a range-clustered table opens O(1) delete files, not
    * every delete file since the last compaction. Metadata-scale
    * interval check, sound because both bounds come from footer stats. */
  private def resolveDeletes(data: DataFrame, s: Snapshot,
      scanned: Option[Seq[FileEntry]]): DataFrame = {
    val dels = scanned.fold(s.deleteFiles)(fs => s.deleteFiles.filter(d =>
      fs.exists(f => d.minRepo <= f.maxRepo && d.maxRepo >= f.minRepo)))
    if (dels.isEmpty) data
    else LakeTable.undeleted(data, readEntries(dels, LakeTable.deleteSchema))
  }

  /** Distributed file pruning for the apply path: which files' [minRepo,
    * maxRepo] key ranges may contain any repo present in the (distributed,
    * single string column) `repos` DataFrame.
    *
    * Scale contract (10^10 events / millions of repos): the batch's repo
    * set NEVER reaches the driver. The manifest's interval index — sorted
    * minRepo array + prefix-max of maxRepo, O(files) strings, the same
    * metadata the driver already holds — is broadcast; each executor
    * binary-searches its repos against it and emits touched file INDICES.
    * The driver collects only the distinct index set, bounded by file
    * count. (A `mapPartitions` rather than a Column expression: "all
    * intervals containing point r" is a backward prefix-max walk that
    * built-ins could express only as an O(files × repos) theta-join.)
    * Per-partition local dedup of repos avoids a shuffle entirely. */
  def pruneFilesDistributed(snap: Snapshot, repos: DataFrame)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    if (snap.files.isEmpty) return (Nil, Nil)
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      RepoIntervalIndex(snap.files.map(f => (f.minRepo, f.maxRepo))))
    val touched = repos.as[String].mapPartitions(bc.value.touched(_))
      .distinct().collect().toSet
    bc.unpersist()
    val parts = snap.files.zipWithIndex.partition { case (_, idx) => touched(idx) }
    (parts._1.map(_._1), parts._2.map(_._1))
  }

  // ---- write ----------------------------------------------------------

  /** Write a DataFrame as new immutable data files (sorted within
    * partitions by key so per-file min/max stats are tight), returning
    * manifest entries with stats.
    *
    * Stats come from the parquet FOOTERS (row counts + repo/seq column
    * min/max + file bytes), not from re-reading the data — a
    * metadata-only pass, the same trick Iceberg manifests use. The driver
    * reads them, one footer open per file, right before it moves the file
    * into `data/`: the move already needs the driver to see the staged
    * files, so the table needs no second filesystem contract, and the
    * write runs no Spark job beyond its own. */
  def writeDataFiles(df: DataFrame, label: String, kind: String = "data",
      blooms: Boolean = true): Seq[FileEntry] =
    writeDataFilesKinded(df, label, kind, blooms).map(_._2)

  /** [[writeDataFiles]] with a partition-value → manifest-kind mapping,
    * returning (raw partition value, entry) pairs: lets a caller write
    * SUBDIVIDED partitions in one job (e.g. the MoR merge splitting
    * delete entries by had-live-base-row) and read the per-subdivision
    * row counts straight from the footer stats — no separate count
    * action over the merge output.
    *
    * `label` (a batch id, or the sink's `batchId` option) names the
    * stage directory and every file, so it may not contain `/`: a
    * `..` segment would point the overwrite-mode stage write — which
    * deletes its target first — outside the table root. */
  private[graft] def writeDataFilesKinded(df: DataFrame, label: String,
      kind: String = "data", blooms: Boolean = true,
      partitionCol: Option[String] = None,
      kindMap: String => String = identity): Seq[(String, FileEntry)] = {
    if (label.contains('/'))
      throw new IllegalArgumentException(s"write label must not contain '/': $label")
    // no leading '_' \u2014 Spark's file listing filters _-prefixed paths
    val tmp = Paths.get(root, s"stage-$label")
    // KEYLESS tables (e.g. the quarantine sink's (raw, errors, stage)
    // rows) skip the key sort and blooms \u2014 their footer stats degrade to
    // the full-range sentinels and reads are always full scans
    val hasKeys = df.columns.contains("repo") && df.columns.contains("path")
    val sorted = (if (hasKeys) df.sortWithinPartitions("repo", "path") else df)
      .write.mode("overwrite")
    // parquet bloom filters on the key columns: row-group-level point
    // pruning INSIDE files, the layer below the manifest's min/max
    // ranges — a key equality scan ([[lookupKeys]]) skips row groups
    // whose bloom says "definitely absent" without reading data pages.
    // Sorted-on-write files have tight ranges already; blooms cover the
    // residual case of a wide file whose range straddles the probe key.
    // Adaptive sizing flushes a bloom sized to the chunk's observed NDV
    // rather than the 1 MB max-bytes bitset; even adaptive, parquet's
    // smallest candidate is 64 KB per column — so callers producing
    // SMALL short-lived files (merge-on-read micro-batch output, folded
    // away at the next major compaction) pass `blooms = false`: a
    // constant 128 KB per file would dominate exactly the write
    // amplification MoR exists to bound, while wide long-lived files
    // (CoW merges, compaction rewrites) keep full bloom coverage.
    val writer =
      if (!blooms || !hasKeys) sorted
      else sorted
        .option("parquet.bloom.filter.enabled#repo", "true")
        .option("parquet.bloom.filter.enabled#path", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
    // partitionCol (e.g. the merge-on-read writer's `_kind`) lets ONE
    // write job emit files of several kinds: output lands in
    // `<col>=<value>/` subdirs, each file's kind = its subdir value
    partitionCol.map(writer.partitionBy(_)).getOrElse(writer).parquet(tmp.toString)
    def listParquet(dir: Path): Seq[Path] = {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      finally ls.close()
    }
    val partsKinded: Seq[(Path, String)] = partitionCol match {
      case None => listParquet(tmp).map(p => (p, kind))
      case Some(c) =>
        val ls = Files.list(tmp)
        val subdirs = try ls.iterator().asScala
          .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith(s"$c="))
          .toSeq.sortBy(_.toString)
          finally ls.close()
        subdirs.flatMap { d =>
          val k = d.getFileName.toString.stripPrefix(s"$c=")
          listParquet(d).map(p => (p, k))
        }
    }
    val conf = spark.sessionState.newHadoopConf()
    Files.createDirectories(dataDir)
    val entries = partsKinded.zipWithIndex.map { case ((src, k), i) =>
      val (rows, minR, maxR, minS, maxS, bytes) = LakeTable.footerStats(src, conf)
      // the public file name carries the MANIFEST kind (raw partition
      // values like dlive/dtomb are an internal counting detail)
      val name = s"$label-${kindMap(k)}-${"%05d".format(i)}-${src.getFileName.toString.stripPrefix("part-").take(41)}"
      val dst = dataDir.resolve(name)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      (k, FileEntry(s"data/$name", rows, minR, maxR, minS, maxS, kindMap(k), bytes))
    }
    // clean tmp dir remnants (_SUCCESS etc.)
    LakeTable.deleteTree(tmp)
    entries.filter(_._2.rows > 0)
  }


  /** Atomically commit a new snapshot from the caller's intent against
    * `base`, the snapshot it read (None: the table was empty): the files
    * it `dropped` leave, the files it `added` arrive. Returns the
    * committed version, or the existing one if this (batchId, offsets)
    * was already committed ([[Snapshot.committed]] — idempotent replay).
    *
    * The new file list is always `head.files − dropped ++ added`. When
    * the head is still `base` that is exactly the caller's view; when a
    * concurrent commit moved it, the same expression REBASES the intent
    * onto the new head (the Iceberg commit loop), so maintenance
    * (compaction / expiry / appends) can overlap ingest instead of
    * hard-failing. A moved head is first REVALIDATED — any failure is a
    * REAL conflict → [[java.util.ConcurrentModificationException]], the
    * caller must re-plan from fresh state:
    *  - every file this commit DROPS must still be live at the head (a
    *    concurrent writer rewriting a file whose content this commit
    *    consumed — e.g. compaction racing a CoW merge of the same file —
    *    cannot be auto-merged: both rewrites contain the rows);
    *  - no source partition this commit advances may have moved at the
    *    head (two appliers applying the same partitions is undefined);
    *  - the schema rebases by name-union under the head's renames
    *    ([[LakeTable.unionSchemas]]: concurrent additive promotion merges,
    *    our column set survives, a name a concurrent rename retired does
    *    not come back).
    * Losing the manifest-link race re-reads the head and runs the same
    * steps again, bounded by [[LakeTable.CommitRetries]] with small linear
    * backoff. */
  def commit(batchId: String, offsets: Map[String, Long], schema: StructType,
      dropped: Seq[FileEntry], added: Seq[FileEntry], base: Option[Snapshot],
      lineage: Map[String, Long] = Map.empty, sticky: Boolean = false): Long = {
    val droppedPaths = dropped.map(_.path).toSet
    val baseOff = base.map(_.offsets).getOrElse(Map.empty)
    retryRace(s"commit $batchId") {
      val head = currentSnapshot
      head.filter(_.committed(batchId, offsets)).map(_.version) // no-op replay
        .getOrElse {
          val headFiles = head.map(_.files).getOrElse(Nil)
          val moved = head.map(_.version) != base.map(_.version)
          if (moved) {
            val headPaths = headFiles.map(_.path).toSet
            val missing = droppedPaths.filterNot(headPaths.contains)
            if (missing.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"commit $batchId conflicts: files it rewrites were removed by a " +
                  s"concurrent commit: ${missing.take(3).mkString(", ")}")
            val headOff = head.map(_.offsets).getOrElse(Map.empty)
            val advanced = offsets.keys.filter(k => headOff.get(k) != baseOff.get(k))
            if (advanced.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"commit $batchId conflicts: partitions ${advanced.take(3).mkString(", ")} " +
                  "were advanced by a concurrent applier")
          }
          val newSchema =
            if (moved) head.map(h => LakeTable.unionSchemas(h.schema, schema, h.renames))
              .getOrElse(schema)
            else schema
          val version = head.map(_.version + 1).getOrElse(0L)
          // sliding-window fence map: keep only the newest `appliedWindow`
          // entries (older replays are caught by the offsets watermark);
          // sticky fences go to the untrimmed `saved` map instead
          val fence = Map(batchId -> LakeTable.fence(offsets))
          val applied: Map[String, String] =
            (head.map(_.applied).getOrElse(scala.collection.immutable.ListMap.empty[String, String]) ++
              (if (sticky) Map.empty else fence)).takeRight(appliedWindow)
          val saved: Map[String, String] =
            head.map(_.saved).getOrElse(Map.empty) ++ (if (sticky) fence else Map.empty)
          val mergedOffsets = head.map(_.offsets).getOrElse(Map.empty) ++ offsets
          writeManifest(version, newSchema,
            headFiles.filterNot(f => droppedPaths.contains(f.path)) ++ added,
            mergedOffsets, applied, lineage, batchId, head.map(_.renames).getOrElse(Map.empty),
            prevChunks = head.map(_.chunkRefs).getOrElse(Nil), saved = saved)
          version
        }
    }
  }

  /** Run `publish` (which re-reads the head each time) until it wins the
    * manifest-link race: a lost race ([[LakeTable.CommitRace]]) retries
    * up to [[LakeTable.CommitRetries]] times with small linear backoff,
    * then fails as a [[java.util.ConcurrentModificationException]]. */
  @scala.annotation.tailrec
  private def retryRace[T](what: String, attempt: Int = 1)(publish: => T): T =
    (try Some(publish) catch { case _: LakeTable.CommitRace => None }) match {
      case Some(v) => v
      case None if attempt > LakeTable.CommitRetries =>
        throw new java.util.ConcurrentModificationException(
          s"$what lost the race ${LakeTable.CommitRetries} times — giving up")
      case None =>
        Thread.sleep(math.min(25L * attempt, 400L))
        retryRace(what, attempt + 1)(publish)
    }

  /** Compact small data files: rewrite any files below `minRows` into
    * fresh right-sized files (keyed-sorted, tight stats), keep the rest.
    * Table state is unchanged — pure maintenance, committed as its own
    * snapshot. At 100 TB this is the job that keeps CoW MERGE cheap:
    * file count bounds both manifest size and merge read amplification.
    *
    * Output sizing is [[LakeTable.clustered]], the applier's rule: a
    * rewrite of at most [[LakeTable.SmallWriteRows]] rows (known from the
    * manifest) takes `coalesce(1)`; a larger one range-partitions on
    * (repo, path) under AQE's advisory byte target, so a whole-table
    * compact is a parallel many-file rewrite with tight disjoint key
    * ranges, never a one-task funnel. */
  def compact(minRows: Long, minBytes: Long = 0L): Option[Long] = {
    val snap = currentSnapshot.getOrElse(return None)
    val major = snap.deleteFiles.nonEmpty
    // byte-targeted selection uses the manifest-recorded file sizes —
    // the operationally honest threshold (a 10^6-row file of tiny rows
    // can still be a small file)
    def undersized(f: FileEntry): Boolean = f.rows < minRows ||
      (minBytes > 0 && f.bytes < minBytes)
    // MAJOR compaction (any merge-on-read delete files present) is
    // TARGETED, not whole-table: rewrite (deletes-resolved) exactly the
    // data files whose [minRepo, maxRepo] overlaps some delete file's
    // range, then drop every delete file. Sound because an equality-
    // delete entry's repo lies inside its file's range, so any data file
    // that could hold a superseded row overlaps that delete file and is
    // in the rewrite set — after the rewrite no kept file can contain a
    // deleted row. Localized delete churn (the common case on a
    // range-clustered table) rewrites O(churn coverage), not O(table);
    // whole-keyspace churn degenerates to the full rewrite it genuinely
    // requires. This is the MoR rent coming due in ONE periodic job
    // instead of on every micro-batch (the Iceberg v2 rewrite_data_files
    // + rewrite_position_delete_files cycle). Small files below
    // `minRows` join the rewrite for consolidation either way.
    val small =
      if (major) {
        val dels = snap.deleteFiles
        snap.dataFiles.filter(f => undersized(f) ||
          dels.exists(d => d.minRepo <= f.maxRepo && d.maxRepo >= f.minRepo))
      } else snap.files.filter(undersized)
    if (!major && small.size < 2) return None
    // a major compaction drops every delete file with its rewrite (or
    // alone, metadata-only, when every delete file's range misses all
    // live data and nothing needs rewriting)
    val dropped = small ++ (if (major) snap.deleteFiles else Nil)
    // rename-mapped, delete-resolved scan: compaction REWRITES files, so
    // its output materializes old-named columns under their current
    // names — the rent-paying moment after which the rename mapping is
    // inert. Range-clustered (not hashed): compacted files get tight
    // disjoint key ranges, which is what keeps future CoW merges cheap.
    val added =
      if (small.isEmpty) Nil
      else writeDataFiles(
        LakeTable.clustered(scan(Some(snap), Some(small)), small.map(_.rows).sum),
        s"compact-v${snap.version + 1}")
    // no delete file survives a compaction, so the data-row sum is exact
    Some(commit(s"compact-${snap.version + 1}", Map.empty, snap.schema, dropped, added,
      Some(snap), Map("compactedFiles" -> dropped.size.toLong,
        "rowsAfter" -> (snap.dataFiles.map(_.rows).sum - small.map(_.rows).sum +
          added.map(_.rows).sum))))
  }

  /** MINOR compaction: consolidate accumulated merge-on-read delete
    * files into one per-key-maximum delete file, touching NO data file.
    * Between major compactions every MoR micro-batch adds a delete file,
    * and every resolved read opens all of them — after 10^4 batches the
    * read-side footprint is 10^4 tiny files. Consolidation replaces them
    * with their per-key max, so reads open ONE delete file, probe one
    * entry per key, and the manifest shrinks — the Iceberg
    * rewrite_position_delete_files idea for equality deletes. Table
    * state is bit-identical: [[resolveDeletes]] kills a row iff SOME
    * entry for its key is strictly newer, which holds iff the per-key
    * max is.
    *
    * Cost is O(delete churn since the last major compaction), never
    * O(table) — the job a scheduler runs every N micro-batches, with
    * [[compact]] (major) reserved for folding deletes into data files.
    * Safe to race the applier: the commit loop rebases, keeping delete
    * files a concurrent batch added while dropping only the consolidated
    * inputs. Returns the committed version, or None if fewer than
    * `minFiles` delete files exist. */
  def consolidateDeletes(minFiles: Int = 2): Option[Long] = {
    val snap = currentSnapshot.getOrElse(return None)
    val dels = snap.deleteFiles
    if (dels.size < minFiles) return None
    // delete-entry total is manifest-known, so a small consolidation is
    // gathered into one task (no exchange) and skips the range sampling
    // pass. A range-clustered write SAMPLES its input: the checkpoint
    // makes the delete aggregate run once, not once per pass
    val entries = dels.map(_.rows).sum
    val merged = LakeTable.gathered(readEntries(dels, LakeTable.deleteSchema), entries)
      .groupBy(col("repo"), col("path"))
      .agg(max(struct(col("seq").as("s"), col("commit").as("c"))).as("_m"))
      .select(col("repo"), col("path"),
        col("_m.s").as("seq"), col("_m.c").as("commit"))
      .localCheckpoint(eager = false)
    // Blooms off: like MoR micro-batch output, delete files are always
    // scanned whole by resolveDeletes, never point-probed
    val added = writeDataFiles(LakeTable.clustered(merged, entries),
      s"deletes-v${snap.version + 1}", kind = "delete", blooms = false)
    Some(commit(s"consolidate-deletes-${snap.version + 1}", Map.empty,
      snap.schema, dels, added, Some(snap),
      Map("consolidatedDeleteFiles" -> dels.size.toLong, "rowsAfter" -> snap.liveRows)))
  }

  /** Maintenance POLICY: decides WHEN the maintenance jobs run, so a
    * stream driver can call this every K micro-batches instead of
    * hand-scheduling `consolidateDeletes` / `compact` (the reference ran
    * its hygiene on every workflow — `clean_up.py:35-55`; Iceberg
    * deployments cron `rewrite_data_files` the same way). Thresholds:
    *
    *  - delete-to-data ROW ratio ≥ `maxDeleteRatio` → MAJOR compaction
    *    (folds every delete file into rewritten data, the read-side rent
    *    reset);
    *  - otherwise ≥ `maxDeleteFiles` delete files → MINOR consolidation
    *    (merges them to one; bounds per-read delete-file opens);
    *  - ≥ `maxSmallFiles` data files under `smallFileBytes` → small-file
    *    compaction (bounds manifest size and merge read amplification).
    *
    * Each check re-reads the head (a prior action may have changed it);
    * all jobs are race-safe against a concurrent applier via the commit
    * rebase loop. Returns the versions committed (empty = healthy). */
  def maintain(maxDeleteFiles: Int = 16, maxDeleteRatio: Double = 0.25,
      smallFileBytes: Long = 8L << 20, maxSmallFiles: Int = 16): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    currentSnapshot.foreach { snap =>
      val delRows = snap.deleteFiles.map(_.rows).sum
      val dataRows = math.max(1L, snap.dataFiles.map(_.rows).sum)
      if (snap.deleteFiles.nonEmpty && delRows.toDouble / dataRows >= maxDeleteRatio)
        out ++= compact(minRows = 1L, minBytes = smallFileBytes)
      else if (snap.deleteFiles.size >= maxDeleteFiles)
        out ++= consolidateDeletes(minFiles = maxDeleteFiles)
    }
    currentSnapshot.foreach { snap =>
      if (snap.deleteFiles.isEmpty && smallFileBytes > 0 &&
        snap.dataFiles.count(_.bytes < smallFileBytes) >= maxSmallFiles)
        out ++= compact(minRows = 1L, minBytes = smallFileBytes)
    }
    out.result()
  }

  /** Data-file count from the chunk refs alone (no chunk is parsed). */
  private def dataFileCount(s: Snapshot): Int =
    s.chunkRefs.iterator.filter(_.kind == "data").map(_.n).sum

  /** Incremental change feed: rows whose winning `seq` is after
    * `afterSeq` — what a downstream CDC consumer reads per poll. Files
    * whose footer maxSeq ≤ afterSeq are pruned at the MANIFEST (zero IO):
    * retained-by-reference files from old commits drop out immediately,
    * so the scan cost tracks the churn since `afterSeq`, not table size —
    * the seq stats play the role of Iceberg's hidden time partitioning.
    * Returns (feed, filesScanned, filesTotal). */
  def readSince(afterSeq: Long): (DataFrame, Int, Int) = {
    val snap = currentSnapshot
    // chunk-level seq prune first: an incremental consumer never parses
    // chunk files whose aggregate maxSeq sits at or below its watermark
    // (steady state: only the chunks of recent commits)
    val live: Seq[FileEntry] = snap.toSeq.flatMap(_.chunkRefs)
      .filter(c => c.kind == "data" && c.maxSeq > afterSeq)
      .flatMap(c => readChunk(c.name))
      .filter(_.maxSeq > afterSeq)
    (scan(snap, Some(live), rows = _.filter(col("seq") > afterSeq)),
      live.size, snap.map(dataFileCount).getOrElse(0))
  }

  /** State of snapshot `s` restricted to the keys of `keys` (columns
    * repo, path) — THE read of a distributed key set: the file list is
    * pruned to candidate repos through the broadcast interval index (no
    * repo set reaches the driver, only file indices), then read,
    * semi-joined to the keys, and delete-resolved. */
  private[graft] def stateRestricted(s: Snapshot, keys: DataFrame): DataFrame = {
    val (touched, _) = pruneFilesDistributed(s, keys.select(col("repo")))
    scan(Some(s), Some(touched.filter(_.kind == "data")),
      rows = _.join(keys.select(col("repo"), col("path")), Seq("repo", "path"), "left_semi"))
  }

  /** Candidate files for [[changeFeed]] over (`a`, `b`]: (data files
    * added, data files removed, delete files carrying genuine churn).
    *
    * The delete side is CONSOLIDATION-AWARE: [[consolidateDeletes]]
    * replaces N delete files with one merged per-key-max file, so a
    * naive "delete files in b but not a" would treat that merged file —
    * EVERY key deleted since the last major compaction — as interval
    * churn, and the feed would state-read O(accumulated deletes)
    * instead of O(churn). Consolidation is state-identity-preserving by
    * construction (max is associative), so once any delete file arrived
    * in the interval, the candidates are the delete files added by the
    * interval's NON-consolidation commits: a metadata-scale walk over
    * the manifests in (`a`, `b`]. Every one of them exists: versions are
    * contiguous and expiry deletes only a prefix, so when `a` is readable
    * so is every later manifest, and the files those manifests reference
    * are kept with them. */
  private[lake] def changeFeedCandidateFiles(a: Snapshot, b: Snapshot)
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) = {
    val aPaths = a.dataFiles.map(_.path).toSet
    val bPaths = b.dataFiles.map(_.path).toSet
    val removed = a.dataFiles.filterNot(f => bPaths.contains(f.path))
    val added = b.dataFiles.filterNot(f => aPaths.contains(f.path))
    val aDel = a.deleteFiles.map(_.path).toSet
    val churnDel: Seq[FileEntry] =
      if (b.deleteFiles.forall(f => aDel.contains(f.path))) Nil
      else {
        var prevPaths = aDel
        val out = Seq.newBuilder[FileEntry]
        ((a.version + 1) to b.version).map(snapshot).foreach { s =>
          if (!s.batchId.startsWith("consolidate-deletes-"))
            out ++= s.deleteFiles.filterNot(f => prevPaths.contains(f.path))
          prevPaths = s.deleteFiles.map(_.path).toSet
        }
        out.result().distinctBy(_.path)
      }
    (added, removed, churnDel)
  }

  /** Row-level change-data feed between two snapshots (the Delta CDF /
    * Iceberg changelog idea): one row per key whose LIVE state differs
    * between `fromVersion` and `toVersion`, classified
    * insert / update / delete, with before- and after-images of the
    * value columns as structs (null on the absent side).
    *
    * Scale shape: candidate keys come only from files DISTURBED between
    * the snapshots — data files added or removed, delete files added —
    * so the feed costs O(churn), not O(table). The two restricted state
    * reads then prune each snapshot's file list to the candidates' repos
    * ([[pruneFilesDistributed]]) and semi-join to the candidate keys.
    * Pure maintenance between the snapshots (compaction, delete
    * consolidation) only rewrites physical files: its keys enter the
    * candidate set but fall out at the final same-version filter, so a
    * maintenance-only interval emits an empty feed.
    *
    * Correctness leans on the maintenance invariant [[compact]] upholds:
    * a delete file is only ever REMOVED by a compaction that
    * simultaneously rewrites every data file overlapping its key range
    * (so a row it suppressed can never silently come back to life in a
    * shared file). */
  def changeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    val a = snapshot(fromVersion)
    val b = snapshot(toVersion)
    val (added, removed, addedDel) = changeFeedCandidateFiles(a, b)
    val valT = StructType(b.schema.fields.filterNot(f => f.name == "repo" || f.name == "path"))
    def img(df: DataFrame, as: String) = df.select(col("repo"), col("path"),
      struct(LakeTable.conform(df, valT): _*).as(as))
    val keyC = Seq(col("repo"), col("path"))
    val candParts: Seq[DataFrame] =
      Seq(b -> added, a -> removed).collect { case (s, fs) if fs.nonEmpty =>
        scan(Some(s), Some(fs)).select(keyC: _*) } ++
        (if (addedDel.nonEmpty)
          Seq(readEntries(addedDel, LakeTable.deleteSchema)
            .select(keyC: _*)) else Nil)
    if (candParts.isEmpty) return emptyFrame(LakeTable.changeFeedSchema(b.schema))
    // used four times (two prunes, two semi-joins) — compute once. A
    // local checkpoint, not a session cache: the streaming CDF source
    // calls this per micro-batch, and its blocks are released by the
    // ContextCleaner once the returned feed is unreachable
    val cand = candParts.reduce(_ unionByName _).distinct().localCheckpoint(eager = false)
    val joined = img(stateRestricted(a, cand), "before")
      .join(img(stateRestricted(b, cand), "after"), Seq("repo", "path"), "full_outer")
    // same-state filter compares the WHOLE images null-safely: tables
    // created through the plain `format("graft")` sink need not carry
    // seq/commit columns (named-field access would fail to resolve), and
    // a null-propagating =!= on nullable fields would silently drop
    // genuine updates. For engine tables this is equivalent to the
    // (seq, commit) comparison — a new winner always changes them.
    joined
      .filter(!(col("before") <=> col("after")))
      .select(col("repo"), col("path"),
        when(col("before").isNull, "insert")
          .when(col("after").isNull, "delete")
          .otherwise("update").as("change_type"),
        col("before"), col("after"))
  }

  /** Point lookups: read only the rows for the given (repo, path) keys.
    * Two pruning layers, both metadata-first:
    *  1. MANIFEST: a file is scanned only if some key's repo falls inside
    *     its [minRepo, maxRepo] range (the manifest keeps no path bound:
    *     a concatenated "repo path" bound is unsound when a repo may
    *     contain the separator or anything below it). Chunks, then files, prune
    *     through a [[RepoIntervalIndex]] (sorted minRepo + prefix-max
    *     walk) in O(keys·log files).
    *  2. FILTER: up to [[LakeTable.LookupBulkThreshold]] keys become an
    *     OR-chain of key-equality
    *     predicates pushed down to parquet, where the write-time bloom
    *     filters + column min/max skip non-matching row groups inside
    *     each scanned file. Past the threshold an OR-chain would be a
    *     10^4-term predicate (codegen degrades, pushdown gives up), so
    *     bulk sets become a BROADCAST LEFT-SEMI join against the key set
    *     instead — same result, hash-probe per row, no giant predicate.
    * Returns (rows, filesScanned, filesTotal). */
  def lookupKeys(keys: Seq[(String, String)]): (DataFrame, Int, Int) = {
    val snap = currentSnapshot
    val repos = keys.map(_._1).distinct
    // two-stage manifest prune: chunk stats (in the manifest itself)
    // decide which chunk FILES to parse at all, then per-file stats
    // decide which data files to scan — a cold point lookup reads
    // O(overlapping chunks) of metadata, not the whole file list
    val chunks = RepoIntervalIndex.select(snap.toSeq.flatMap(_.chunkRefs)
      .filter(_.kind == "data"), repos)(c => (c.minRepo, c.maxRepo))
    val live = RepoIntervalIndex.select(chunks.flatMap(c => readChunk(c.name)),
      repos)(f => (f.minRepo, f.maxRepo))
    val onKeys: DataFrame => DataFrame =
      if (keys.size <= LakeTable.LookupBulkThreshold)
        _.filter(keys.map { case (r, p) =>
          col("repo") === r && col("path") === p }.reduce(_ || _))
      else { df =>
        import spark.implicits._
        df.join(broadcast(keys.toDF("repo", "path")), Seq("repo", "path"), "left_semi")
      }
    (scan(snap, Some(live), rows = onKeys), live.size, snap.map(dataFileCount).getOrElse(0))
  }

  /** Materialize the current snapshot in the reference's output layout:
    * hive-partitioned parquet `year=/month=/day=/hour=` derived from a
    * timestamp column (P7 + S9, `convert_to_parquet.py:206-211,236-238`)
    * — the hand-off format for downstream consumers that want partition
    * pruning by event time. */
  def exportHive(outDir: String, tsCol: Column): Unit =
    read()
      .withColumn("year", year(tsCol)).withColumn("month", month(tsCol))
      .withColumn("day", dayofmonth(tsCol)).withColumn("hour", hour(tsCol))
      .write.mode("overwrite")
      .partitionBy("year", "month", "day", "hour").parquet(outDir)

  /** Expire old snapshots and vacuum unreferenced data files (≙ Iceberg
    * `expire_snapshots` + `remove_orphan_files`; the reference's 30-day
    * dirty-data lifecycle, `deployments/main.tf:51-61`, is the same
    * hygiene). Keeps the newest `keepLast` manifests; any data file not
    * referenced by a KEPT snapshot is deleted — this covers both files
    * dropped by later merges and crash orphans (written but never
    * committed). Time travel remains valid within the kept window.
    * Returns (manifestsDeleted, dataFilesDeleted).
    *
    * Reader contract (the standard Iceberg retention trade): a reader
    * holds NO lock — a scan planned against a snapshot whose files are
    * vacuumed mid-read fails with missing-file errors. Operate expiry on
    * a retention window (keepLast sized so snapshots outlive the longest
    * running read, as Iceberg's `expire_snapshots` retains by age); the
    * vacuum itself never touches files referenced by any KEPT snapshot,
    * so readers of retained versions are always safe. Expiry may run
    * concurrently with commits (it writes no manifest), but two
    * concurrent expiries race their deletes — run one at a time. */
  def expireSnapshots(keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val vs = versions
    val cur = vs.lastOption.getOrElse(return (0, 0))
    val keepFrom = math.max(0L, cur - keepLast + 1)
    // iterate only manifests that EXIST: an earlier expire with a smaller
    // keepLast may already have deleted versions inside (keepFrom, cur)
    val live: Set[String] = vs.filter(_ >= keepFrom)
      .flatMap(v => snapshot(v).files.map(_.path)).toSet
    var dataDeleted = 0
    val dataFiles = if (!Files.isDirectory(dataDir)) Nil else {
      val ls = Files.list(dataDir)
      try ls.iterator().asScala.toSeq finally ls.close()
    }
    dataFiles.foreach { p =>
      if (!live.contains(s"data/${p.getFileName}")) {
        if (Try(Files.deleteIfExists(p)).getOrElse(false)) dataDeleted += 1
      }
    }
    var metaDeleted = 0
    vs.filter(_ < keepFrom).foreach { v =>
      if (Try(Files.deleteIfExists(metaDir.resolve(s"v$v.json"))).getOrElse(false))
        metaDeleted += 1
    }
    // sweep manifest CHUNKS referenced by no kept snapshot (expired
    // versions' rewritten chunks + orphans from lost commit races).
    // Only chunks whose EMBEDDED version (`c-<version>-…`) is below
    // keepFrom are candidates: [[writeManifest]] fsyncs chunk files
    // BEFORE the manifest that references them becomes visible, so an
    // expiry racing an in-flight commit must never treat that commit's
    // not-yet-referenced chunks as orphans (expiry is documented safe to
    // run concurrently with commits). True orphans age out once keepFrom
    // passes their version.
    val keptChunks: Set[String] = vs.filter(_ >= keepFrom)
      .flatMap(v => snapshot(v).chunkRefs.map(_.name)).toSet
    def chunkVersion(n: String): Long =
      Try(n.stripPrefix("c-").takeWhile(_ != '-').toLong).getOrElse(Long.MaxValue)
    val ml = Files.list(metaDir)
    val chunkFiles = try ml.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("c-") && n.endsWith(".json") &&
        chunkVersion(n) < keepFrom).toSeq
      finally ml.close()
    chunkFiles.filterNot(keptChunks.contains).foreach { n =>
      if (Try(Files.deleteIfExists(metaDir.resolve(n))).getOrElse(false)) {
        chunkCache.remove(n)
        ()
      }
    }
    (metaDeleted, dataDeleted)
  }

  /** Rename a value column: a METADATA-ONLY commit (no file is touched)
    * that renames the schema field and records the old→new mapping in
    * the manifest, chain-collapsing prior renames (after a→b then b→c
    * the map holds {a→c, b→c}). `oldName` is retired for good: files
    * written before the rename keep their physical column name, and a
    * late producer's rows or a sink append may still carry it; every
    * read, both merges and the sink's schema map it to the current name
    * (the one rename rule, [[LakeTable.conform]]), and the next
    * compaction rewrite materializes the current name. So `newName` may
    * not be a retired name: its old files' values would read under it.
    * Time travel is unaffected: old snapshots carry their own schema +
    * mapping. Key/ordering columns (repo, path, seq, commit) are the
    * engine's contract and cannot be renamed. Returns the committed
    * version. Metadata-only ⇒ always rebase-safe, so the race loop needs
    * no file/offset validation. */
  def renameColumn(oldName: String, newName: String): Long = {
    require(!Set("repo", "path", "seq", "commit").contains(oldName),
      s"cannot rename engine key/ordering column $oldName")
    retryRace(s"rename $oldName→$newName") {
      val snap = currentSnapshot.getOrElse(
        throw new IllegalStateException("rename on an empty table"))
      require(snap.schema.fieldNames.contains(oldName), s"no such column: $oldName")
      require(!snap.schema.fieldNames.contains(newName),
        s"column already exists: $newName")
      require(!snap.renames.contains(newName),
        s"$newName is a retired column name (renamed to ${snap.renames(newName)})")
      val newSchema = StructType(snap.schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val renames = snap.renames.map { case (o, n) =>
        o -> (if (n == oldName) newName else n) } + (oldName -> newName)
      val version = snap.version + 1
      writeManifest(version, newSchema, snap.files, snap.offsets, snap.applied,
        Map("rename" -> 1L, "rowsAfter" -> snap.liveRows),
        s"rename-$oldName-$newName", renames, prevChunks = snap.chunkRefs,
        saved = snap.saved)
      version
    }
  }

  /** Committed per-source-partition offsets: the resume point. */
  def committedOffsets: Map[String, Long] =
    currentSnapshot.map(_.offsets).getOrElse(Map.empty)

  // ---- manifest io (driver-side small metadata, like Iceberg's) --------

  private def entryMap(f: FileEntry): JLinkedHashMap[String, Object] = {
    val e = new JLinkedHashMap[String, Object]()
    e.put("path", f.path); e.put("rows", java.lang.Long.valueOf(f.rows))
    e.put("minRepo", f.minRepo); e.put("maxRepo", f.maxRepo)
    e.put("minSeq", java.lang.Long.valueOf(f.minSeq))
    e.put("maxSeq", java.lang.Long.valueOf(f.maxSeq))
    e.put("kind", f.kind)
    e.put("bytes", java.lang.Long.valueOf(f.bytes))
    e
  }

  private def entryFromMap(e: JMap[String, Object]): FileEntry =
    FileEntry(e.get("path").asInstanceOf[String],
      e.get("rows").asInstanceOf[Number].longValue(),
      e.get("minRepo").asInstanceOf[String], e.get("maxRepo").asInstanceOf[String],
      e.get("minSeq").asInstanceOf[Number].longValue(),
      e.get("maxSeq").asInstanceOf[Number].longValue(),
      e.get("kind").asInstanceOf[String],
      e.get("bytes").asInstanceOf[Number].longValue())

  /** Write one immutable manifest chunk (fsynced; a chunk orphaned by a
    * lost commit race is invisible and swept by [[expireSnapshots]]). */
  private def writeChunk(name: String, entries: Seq[FileEntry]): Unit = {
    val fl: JList[Object] = new JArrayList[Object]()
    entries.foreach(f => fl.add(entryMap(f)))
    val p = metaDir.resolve(name)
    Files.writeString(p, mapper.writeValueAsString(fl))
    val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
    chunkCache.put(name, entries)
    ()
  }

  private def readChunk(name: String): Seq[FileEntry] =
    chunkCache.getOrElseUpdate(name, {
      mapper.readValue(Files.readString(metaDir.resolve(name)),
        classOf[JList[JMap[String, Object]]]).asScala.map(entryFromMap).toSeq
    })

  /** Ref for a fresh chunk; [[writeManifest]] segregates entries by
    * kind, so `es` is all data or all deletes. */
  private def chunkRefOf(name: String, es: Seq[FileEntry]): ChunkRef =
    ChunkRef(name, es.size, es.head.kind,
      es.map(_.minRepo).min, es.map(_.maxRepo).max,
      es.map(_.minSeq).min, es.map(_.maxSeq).max)

  /** Write manifest `version`. The file list is stored as CHUNK files:
    * every chunk of `prevChunks` whose entries all survive IDENTICALLY in
    * `files` is re-referenced by name (zero bytes rewritten); only
    * added/disturbed entries land in fresh chunks of ≤ [[chunkSize]].
    * Steady-state commit metadata write: O(batch delta + chunks whose
    * files a merge touched) — range-clustered writes keep touched files
    * contiguous, so disturbed chunks are few. (Without this, every
    * micro-batch rewrites the entire file list: ~20 MB of JSON per
    * commit against a 10^5-file table — the Iceberg manifest-list
    * design exists for exactly this.) */
  private[lake] def writeManifest(version: Long, schema: StructType, files: Seq[FileEntry],
      offsets: Map[String, Long], applied: Map[String, String],
      lineage: Map[String, Long], batchId: String,
      renames: Map[String, String] = Map.empty,
      prevChunks: Seq[ChunkRef] = Nil,
      saved: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(metaDir)
    val byPath: Map[String, FileEntry] = files.map(f => f.path -> f).toMap
    val survivors = prevChunks.filter { c =>
      val es = readChunk(c.name)
      es.nonEmpty && es.forall(e => byPath.get(e.path).contains(e)) }
    // amortized chunk coalescing: once undersized surviving chunks
    // accumulate (each tiny commit leaves one), fold them back into the
    // fresh set so they re-chunk together — bounds the chunk count at
    // O(files/chunkSize) across any number of 1-file commits, with each
    // entry rewritten only while its chunk is still below half target
    val undersized = survivors.filter(_.n < chunkSize / 2)
    val fold: Set[String] =
      if (undersized.size > 7) undersized.map(_.name).toSet
      else Set.empty
    val reused = survivors.filterNot(c => fold.contains(c.name))
    val covered: Set[String] =
      reused.flatMap(c => readChunk(c.name).map(_.path)).toSet
    // fresh entries are segregated by kind so every new chunk is pure
    // data or pure deletes: reads resolving deletes open only
    // delete-kind chunks, point lookups only data-kind ones
    val (freshData, freshDel) =
      files.filterNot(f => covered.contains(f.path)).partition(_.kind == "data")
    val newChunks: Seq[ChunkRef] =
      (freshData.grouped(math.max(1, chunkSize)) ++
        freshDel.grouped(math.max(1, chunkSize))).zipWithIndex.map {
        case (es, i) =>
          val name = s"c-$version-$i-${java.util.UUID.randomUUID().toString.take(8)}.json"
          writeChunk(name, es)
          chunkRefOf(name, es)
      }.toSeq
    val m = new JLinkedHashMap[String, Object]()
    m.put("formatVersion", Integer.valueOf(LakeTable.FormatVersion))
    m.put("version", java.lang.Long.valueOf(version))
    m.put("batchId", batchId)
    m.put("schema", schema.json)
    val cl: JList[Object] = new JArrayList[Object]()
    (reused ++ newChunks).foreach { c =>
      val e = new JLinkedHashMap[String, Object]()
      e.put("name", c.name); e.put("n", Integer.valueOf(c.n))
      e.put("kind", c.kind)
      e.put("minRepo", c.minRepo); e.put("maxRepo", c.maxRepo)
      e.put("minSeq", java.lang.Long.valueOf(c.minSeq))
      e.put("maxSeq", java.lang.Long.valueOf(c.maxSeq))
      cl.add(e)
    }
    m.put("chunks", cl)
    m.put("offsets", offsets.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava)
    m.put("applied", applied.asJava)
    if (saved.nonEmpty) m.put("saved", saved.asJava)
    m.put("lineage", lineage.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava)
    if (renames.nonEmpty) m.put("renames", renames.asJava)
    val tmp = metaDir.resolve(s".v$version.json.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, mapper.writeValueAsString(m))
    // durability: manifest bytes reach disk before the link makes them
    // the current snapshot
    val ch = java.nio.channels.FileChannel.open(tmp, java.nio.file.StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
    val target = metaDir.resolve(s"v$version.json")
    try {
      // the fence: hard-link creation atomically fails EEXIST if another
      // committer already published this version (rename(2) would
      // silently replace it)
      Files.createLink(target, tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Try(Files.delete(tmp))
        // a RETRYABLE signal: [[commit]] rebases onto the new head and
        // re-attempts; only failed revalidation there is a hard conflict
        throw new LakeTable.CommitRace(
          s"lost commit race: $target already exists (concurrent writer)")
    }
    Try(Files.delete(tmp))
    // fsync the directory so the new link survives a crash (Linux)
    Try {
      val dch = java.nio.channels.FileChannel.open(metaDir, java.nio.file.StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    }
    // bound the chunk cache to LIVE metadata: chunks this commit stopped
    // referencing (replaced or folded) are evicted here — a long-lived
    // applier otherwise caches one new chunk per commit and memory grows
    // with COMMIT count, not live file count. Retained older snapshots
    // that still reference an evicted chunk re-parse it on demand.
    val keptNames = (reused ++ newChunks).map(_.name).toSet
    prevChunks.filterNot(c => keptNames.contains(c.name)).foreach { c =>
      chunkCache.remove(c.name); ()
    }
  }

  private def readManifest(p: Path, version: Long): Snapshot = {
    val m = mapper.readValue(Files.readString(p), classOf[JMap[String, Object]])
    // the marker is checked FIRST: a manifest of another layout would
    // otherwise read as a table with no files, silently
    val format = m.get("formatVersion")
    if (format != Integer.valueOf(LakeTable.FormatVersion))
      throw new LakeTable.ManifestFormatException(p, format)
    val schema = DataType.fromJson(m.get("schema").asInstanceOf[String]).asInstanceOf[StructType]
    val chunkRefs: Seq[ChunkRef] = m.get("chunks").asInstanceOf[JList[JMap[String, Object]]]
      .asScala.toSeq.map { e =>
        ChunkRef(e.get("name").asInstanceOf[String],
          e.get("n").asInstanceOf[Number].intValue(),
          e.get("kind").asInstanceOf[String],
          e.get("minRepo").asInstanceOf[String],
          e.get("maxRepo").asInstanceOf[String],
          e.get("minSeq").asInstanceOf[Number].longValue(),
          e.get("maxSeq").asInstanceOf[Number].longValue())
      }
    val offsets = m.get("offsets").asInstanceOf[JMap[String, Object]].asScala
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }.toMap
    // Jackson parses objects into LinkedHashMap: insertion order survives
    // the JSON round-trip, so the sliding-window trim stays FIFO
    val applied = scala.collection.immutable.ListMap.from(
      m.get("applied").asInstanceOf[JMap[String, String]].asScala)
    val lineage = m.get("lineage").asInstanceOf[JMap[String, Object]].asScala
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }.toMap
    val batchId = m.get("batchId").asInstanceOf[String]
    val renames = Option(m.get("renames"))
      .map(_.asInstanceOf[JMap[String, String]].asScala.toMap)
      .getOrElse(Map.empty[String, String])
    val saved = Option(m.get("saved"))
      .map(_.asInstanceOf[JMap[String, String]].asScala.toMap)
      .getOrElse(Map.empty[String, String])
    Snapshot(version, schema, offsets, applied, lineage, batchId, renames,
      chunkRefs, saved)
  }

  /** Lineage / metrics side-table (≙ the reference's PROFILER→ES roll-up,
    * `process_logs.py:140-190`, as a queryable table instead of an index):
    * one row per snapshot with the commit's batchId and its row-count
    * counters. This is the Iceberg `snapshots` metadata-table pattern —
    * derived on demand from the (driver-side, metadata-scale) manifest
    * log, zero overhead on the commit path. */
  def lineageTable(): DataFrame = {
    import spark.implicits._
    // iterate manifests that EXIST (expireSnapshots deletes old ones —
    // versions need not start at 0)
    val rows = versions.map { v =>
      val s = snapshot(v)
      def g(k: String): Long = s.lineage.getOrElse(k, -1L)
      (v, s.batchId, g("parsed"), g("quarantined"), g("upserts"), g("deletes"),
        g("rowsBefore"), g("rowsAfter"))
    }
    rows.toDF("version", "batch_id", "parsed", "quarantined", "upserts",
      "deletes", "rows_before", "rows_after")
  }

  /** Per-rule validation counters, one row per (version, batch, rule) —
    * the fine-grained companion of [[lineageTable]]. Counts are observed
    * during the batch's OWN stats job (a `df.observe` CollectMetrics node
    * in the batch plan — `Validate.routeObserved` — that
    * `CdcApplier.applyBatch` reads from the plan once the job has run),
    * committed in the manifest under `rule.<name>` keys: the reference's per-event
    * PROFILER → ES roll-up (`data_profiling.py:180-189`,
    * `process_logs.py:140-167`) as a queryable table with no second
    * pass over the data. */
  def lineageRules(): DataFrame = {
    import spark.implicits._
    val rows = versions.flatMap { v =>
      val s = snapshot(v)
      s.lineage.collect { case (k, n) if k.startsWith("rule.") =>
        (v, s.batchId, k.stripPrefix("rule."), n) }
    }
    rows.toDF("version", "batch_id", "rule", "violations")
  }
}

object LakeTable {

  /** Delete `dir` and everything under it, best effort. */
  private[graft] def deleteTree(dir: Path): Unit = Try {
    val w = Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(p => Try(Files.delete(p)))
    finally w.close()
  }

  /** Lost manifest-link race — retryable inside [[LakeTable.commit]]'s
    * optimistic loop (vs. `ConcurrentModificationException`, which marks
    * a REAL conflict after failed revalidation). */
  private[lake] class CommitRace(msg: String) extends RuntimeException(msg)

  /** Lost manifest-link races a commit or rename retries before giving up. */
  val CommitRetries: Int = 20

  /** The replay-fence string of a commit's offsets, as recorded in a
    * manifest's `applied`/`saved` maps; read only through
    * [[LakeTable#Snapshot.committed]]. */
  private[lake] def fence(offsets: Map[String, Long]): String =
    offsets.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Layout version of the manifests [[LakeTable.writeManifest]] writes:
    * chunked file lists, per-chunk kind segregation, recorded file bytes,
    * per-file repo and seq bounds (no composite-key bound). A reader
    * accepts exactly this value. */
  val FormatVersion: Int = 2

  /** A manifest whose `formatVersion` is missing or is not
    * [[FormatVersion]]: written by another layout, which this reader
    * would otherwise misread (e.g. as an empty table). */
  class ManifestFormatException(val file: Path, val found: Any)
      extends IllegalStateException(
        s"manifest $file has formatVersion ${Option(found).getOrElse("<missing>")}, " +
          s"expected $FormatVersion")

  /** Row bound of the one small-input rule ([[isSmall]]), used twice:
    *  - on a keyed aggregate's INPUT (a copy-on-write merge's events +
    *    touched file rows, a delete consolidation's entries): at most
    *    this many rows are gathered into one partition before the
    *    aggregate ([[gathered]]), so no exchange runs. A merge-on-read
    *    merge gathers under its own, lower bound
    *    (`CdcApplier.MorGatherRows`);
    *  - on a rewrite's OUTPUT (applier merge output, compaction, delete
    *    consolidation): at most this many rows take `coalesce(1)` instead
    *    of a range repartition ([[clustered]]) — one partition is
    *    trivially range-disjoint and the write sorts within partitions,
    *    while the RangePartitioner's sampling pass would execute the
    *    whole input subtree once more.
    * A copy-on-write merge input just under the bound (≈260 000 rows,
    * 2 000-event batches, 4 cores) gathered beats the exchange path by
    * 9–14% wall and 13–15% CPU, with ~30-byte and with 1 KB contents
    * (BENCH.md, "Where the gather bound sits"). */
  val SmallWriteRows: Long = 262144L

  /** Whether an input or output bounded by `estRows` (an upper bound the
    * caller knows from manifest or batch stats) is at most
    * [[SmallWriteRows]] rows. */
  private[graft] def isSmall(estRows: Long): Boolean = estRows <= SmallWriteRows

  /** Gather a keyed aggregate's input into one partition when its row
    * bound `estRows` is at most `bound` (default: [[isSmall]]): one
    * partition satisfies the aggregate's required distribution, so no
    * Exchange is planned, AQE does not engage, and the aggregate and the
    * write above it run as one task — per-stage scheduling is most of a
    * micro-batch's fixed cost. A larger input passes through to the
    * aggregate's hash exchange. */
  private[graft] def gathered(df: DataFrame, estRows: Long,
      bound: Long = SmallWriteRows): DataFrame =
    if (estRows <= bound) df.coalesce(1) else df

  /** Partition a rewrite's output for the write — the one sizing rule of
    * the applier merge, compaction and delete consolidation. A pinned
    * `partitions` count range-partitions to exactly that many files (AQE
    * does not coalesce a user-specified count); an output of at most
    * [[SmallWriteRows]] rows (`estRows`, an upper bound the caller knows
    * from manifest or batch stats) takes `coalesce(1)`, which is
    * trivially range-disjoint and skips the RangePartitioner's sampling
    * pass over the whole input subtree; anything larger range-partitions
    * on (repo, path) under AQE sizing. */
  private[graft] def clustered(df: DataFrame, estRows: Long, partitions: Int = 0): DataFrame =
    if (partitions > 0) df.repartitionByRange(partitions, col("repo"), col("path"))
    else if (isSmall(estRows)) df.coalesce(1)
    else df.repartitionByRange(col("repo"), col("path"))

  /** Key count above which [[LakeTable.lookupKeys]] filters with a
    * broadcast semi-join instead of an OR-chain predicate. */
  val LookupBulkThreshold: Int = 64

  /** The rows of `data` that no delete entry (`deletes`, under
    * [[deleteSchema]]) kills: a row survives iff NO entry for its key
    * carries a strictly newer (seq, commit). One `left_anti` join on
    * (repo, path) with that comparison as its condition — the Iceberg v2
    * equality-delete probe. No per-key aggregate runs first, so nothing
    * shuffles: the delete side (churn since the last compaction, NOT
    * table size) is the small build side AQE broadcasts, and a huge-churn
    * delete side plans as a shuffle join rather than an OOM. The winner
    * row itself survives: its (seq, commit) EQUALS its own entry's. The
    * struct order is total (a NULL field sorts first), so the rule
    * equals "the per-key delete maximum ≤ the row". */
  private[graft] def undeleted(data: DataFrame, deletes: DataFrame): DataFrame = {
    val (r, d) = (data.as("_r"), deletes.as("_d"))
    r.join(d, col("_r.repo") === col("_d.repo") && col("_r.path") === col("_d.path") &&
      struct(col("_d.seq"), col("_d.commit")) > struct(col("_r.seq"), col("_r.commit")),
      "left_anti")
  }

  /** Schema of merge-on-read equality-delete files: the superseded key
    * plus the WINNING (seq, commit) that superseded it. */
  val deleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("repo", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("commit", org.apache.spark.sql.types.StringType)))

  /** `df`'s columns under `schema`, in its order: each field reads its
    * own column, else the first non-null of the retired names `renames`
    * maps to it (a stored or late old name reads as its current name; a
    * retired name that is itself a column of `schema`, which only older
    * manifests hold, reads as that column alone); present columns are cast to the schema type, and a field with none
    * reads as a typed null — the lake's "missing columns read as null"
    * and rename rules, applied wherever files, change rows, base rows or
    * feed images meet an evolved or pinned schema. */
  private[graft] def conform(df: DataFrame, schema: StructType,
      renames: Map[String, String] = Map.empty): Seq[Column] =
    schema.fields.toSeq.map { f =>
      val names = (f.name +: renames.toSeq.sorted.collect {
        case (o, n) if n == f.name && !schema.fieldNames.contains(o) => o
      }).filter(df.columns.contains)
      (names match {
        case Seq() => lit(null).cast(f.dataType)
        case Seq(n) => col(n).cast(f.dataType)
        case ns => coalesce(ns.map(n => col(n).cast(f.dataType)): _*)
      }).as(f.name)
    }

  /** Name-union of two schemas, `a`'s order first, under the rename rule:
    * a field of `b` under a retired name of `renames` joins as its
    * current name, so a retired name never becomes a column again. The
    * schema rule of applier promotion ([[graft.apply.CdcApplier]]), the
    * append sink ([[graft.sources.GraftDataSource]]) and the commit
    * rebase. */
  private[graft] def unionSchemas(a: StructType, b: StructType,
      renames: Map[String, String]): StructType =
    StructType(a.fields ++ b.fields.map(f => f.copy(name = renames.getOrElse(f.name, f.name)))
      .filterNot(f => a.fieldNames.contains(f.name)).distinctBy(_.name))

  /** Output schema of [[LakeTable.changeFeed]] for a table schema `t`:
    * key columns, the change classification, and nullable before/after
    * image structs over the value columns. */
  def changeFeedSchema(t: StructType): StructType = {
    import org.apache.spark.sql.types.{StringType, StructField}
    // images are nullable end-to-end (a delete has no after, an insert no
    // before), so the value fields shed any NOT NULL the table schema had
    val img = StructType(t.fields
      .filterNot(f => f.name == "repo" || f.name == "path")
      .map(f => StructField(f.name, f.dataType, nullable = true)))
    StructType(Seq(
      StructField("repo", StringType),
      StructField("path", StringType),
      StructField("change_type", StringType),
      StructField("before", img),
      StructField("after", img)))
  }

  /** Row count + repo string min/max + seq long min/max + file
    * BYTES from a parquet footer open (the open already knows the length
    * — no extra status call). */
  private[lake] def footerStats(p: Path, conf: org.apache.hadoop.conf.Configuration)
      : (Long, String, String, Long, Long, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      var rows = 0L
      var minR: String = null; var maxR: String = null
      var minS = Long.MaxValue; var maxS = Long.MinValue
      blocks.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          val colName = c.getPath.toDotString
          val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
          if (st != null && st.hasNonNullValue) {
            def str(v: Any): String = v match {
              case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
              case other => String.valueOf(other)
            }
            colName match {
              case "repo" =>
                val lo = str(st.genericGetMin); val hi = str(st.genericGetMax)
                if (minR == null || lo < minR) minR = lo
                if (maxR == null || hi > maxR) maxR = hi
              case "seq" => (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  if (lo < minS) minS = lo
                  if (hi > maxS) maxS = hi
                case _ => ()
              }
              case _ => ()
            }
          }
        }
      }
      (rows,
        Option(minR).getOrElse(""), Option(maxR).getOrElse("\uffff"),
        if (minS == Long.MaxValue) Long.MinValue else minS,
        if (maxS == Long.MinValue) Long.MaxValue else maxS,
        in.getLength)
    } finally reader.close()
  }
}
