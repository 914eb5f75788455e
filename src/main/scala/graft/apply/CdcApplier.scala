package graft.apply

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructType}

import graft.core.Model.Op
import graft.lake.LakeTable

/** The engine core: per-micro-batch CDC apply (SURVEY.md §7.1 module 6).
  *
  * parse → validate → repair (upstream) → offsets fence →
  * manifest-pruned copy-on-write MERGE (which subsumes the in-batch LWW
  * reduce) → atomic snapshot commit of (files dropped, files added)
  * against the snapshot the batch read ([[LakeTable.commit]]). The
  * commit's lineage holds the batch's row counters and every numeric
  * metric observed in the batch's own plan (the per-rule validation
  * counts of `Validate.routeObserved`), read from that plan once the
  * fused stats job has scanned it — no listener, no extra pass.
  *
  * Scale design decisions (for the 1000-executor / 10^10-event case):
  *  - A small batch runs shuffle-free: when the merge input (batch
  *    events + rows of the touched files, both known on the driver) is
  *    at most [[LakeTable.SmallWriteRows]] (copy-on-write) or
  *    [[CdcApplier.MorGatherRows]] (merge-on-read), it is gathered into
  *    one partition ([[LakeTable.gathered]]), which already satisfies the
  *    aggregate's distribution — fence + stats is one Spark job, merge +
  *    write another, and each is one task. A larger batch pays ONE data
  *    shuffle for the MERGE (plus an optional range-cluster exchange
  *    before the write — see step 6 — that keeps per-file key ranges
  *    tight so later batches' copy-on-write stays proportional to what
  *    they touch). The MERGE is not a join: touched base rows ∪
  *    fenced change events are unioned and reduced by a single hash
  *    aggregate `max_by(row, (seq, commit, isChange))`. That aggregate IS
  *    the in-batch LWW dedup and the cross-batch LWW resolution at once —
  *    map-side partial aggregation shrinks hot keys before the exchange.
  *    (Catalyst plans max_by-over-struct as SortAggregate — struct
  *    buffers aren't hash-aggregable — but the partial_max_by below the
  *    exchange is what kills skew; a window row_number would shuffle
  *    every duplicate.) `commit` totals the order
  *    (deterministic replay, SURVEY.md §7.4-2); `isChange` breaks exact
  *    replays toward the change (idempotent deletes).
  *  - Copy-on-write touches only data files whose manifest key-range
  *    intersects the batch's repos (file-level pruning); untouched files
  *    carry over by reference, zero IO.
  *  - Hot-key skew: the merge aggregate's map-side combine collapses a
  *    hot key's duplicates within each partition before the exchange, so
  *    a key sends at most one row per map partition; AQE's skew handling
  *    stays on as backstop. (`applyBatch` never calls
  *    [[CdcApplier.saltedLwwReduce]], the standalone two-phase reduce
  *    q28 gates.)
  *  - Exactly-once: the offsets fence filters already-applied events
  *    (`seq <= committed[part]`), and the snapshot commit records
  *    `(batchId, offsets)` — replaying a committed batch is a metadata
  *    no-op (see [[LakeTable.commit]]). DELIVERY CONTRACT: the fence
  *    assumes per-source-partition monotone seq ACROSS batches — the
  *    binlog/WAL guarantee (a Kafka partition, a MySQL binlog stream).
  *    A first-seen event below its partition's watermark is
  *    indistinguishable from a replay and is dropped; feed sources that
  *    can reorder (e.g. a file drop batched by modification time) must
  *    deliver per-partition in order. The LWW MERGE itself is fully
  *    order-insensitive — only the replay fence needs the contract.
  *  - Schema evolution: value columns present in the batch but not in the
  *    lake schema are promoted (appended) to the new snapshot's schema;
  *    old files read them as null. Wire-level field renames are
  *    canonicalized upstream (Repair.canonicalizeRenames); a late
  *    producer's column under a name [[LakeTable.renameColumn]] retired
  *    is the lake's one rename rule: it is never promoted, and both
  *    merges read it as its current name ([[LakeTable.conform]]).
  */
object CdcApplier {

  /** The lake's key columns — single source of truth for the standalone
    * reduce, its test-side reference form AND the applyBatch merge
    * (diverging copies would silently group by different keys). */
  private[graft] val keyCols = Seq("repo", "path")

  /** Merge input bound (batch events + rows of the touched files) up to
    * which a merge-on-read batch is gathered into one task and skips the
    * sparse base semi-join. Lower than [[LakeTable.SmallWriteRows]]:
    * gathered, one task scans and aggregates the key columns of every
    * touched file, while the exchange path scans them in parallel and
    * semi-joins them down to the batch's keys first. Measured with
    * 2 000-event batches on 4 cores (BENCH.md, "Where the gather bound
    * sits"), gathered against the exchange path: −30% wall and −36% CPU
    * at 32–43k input rows; −1% to −15% wall and −24% to −39% CPU at
    * 82–113k; +15% wall at 122–133k; +39% wall (CPU even) at 246–257k. */
  private[graft] val MorGatherRows: Long = 98304L

  /** The offsets fence: drop the events at or below the `committed`
    * high-watermark of their source partition. An expression over a
    * literal map of the offsets, not a join: the fenced plan has no
    * exchange, so filling the batch's checkpoint and the fused stats
    * pass over it run as ONE Spark job. A NULL or unknown `part` has no
    * watermark and is kept; a NULL `seq` under a known part compares NULL
    * and is dropped.
    * The map reaches generated code as a reference object, so a new
    * watermark compiles no new class; its lookup probes the committed
    * partitions linearly, which a source's partition count keeps small. */
  private[graft] def fence(events: DataFrame, committed: Map[String, Long]): DataFrame =
    if (committed.isEmpty) events
    else {
      val offsets = typedLit(committed)
      val off = offsets(col("part").cast("string"))
      events.filter(off.isNull || col("seq") > off)
    }

  /** Two-phase salted LWW reduce for adversarial hot keys: phase 1
    * reduces (key, salt) subgroups, phase 2 merges the ≤`salts` survivors
    * per key. Result ≡ the plain one-phase per-key LWW reduce
    * (property-tested against the test-side reference form + oracle-gated
    * in q28). */
  def saltedLwwReduce(events: DataFrame, salts: Int): DataFrame = {
    val valueCols = events.columns.filterNot(keyCols.contains).toSeq
    val salted = events.withColumn("_salt",
      pmod(xxhash64(col("commit"), col("seq")), lit(salts)))
    val phase1 = salted.groupBy((keyCols :+ "_salt").map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*),
        struct(col("seq"), col("commit"))).as("r"))
    phase1.groupBy(keyCols.map(col): _*)
      .agg(max_by(col("r"), struct(col("r.seq"), col("r.commit"))).as("r"))
      .select(keyCols.map(col) ++ valueCols.map(c => col(s"r.$c").as(c)): _*)
  }
}

/** @param mergeOnRead write mode for [[CdcApplier.applyBatch]]:
  *   - `false` (copy-on-write): a batch REWRITES every data file whose
  *     key range it touches — reads stay plain scans, but a steady
  *     drizzle of updates across many repos rewrites
  *     O(touched-files × file-size) bytes per micro-batch;
  *   - `true` (merge-on-read): a batch reads only the KEY COLUMNS of
  *     touched files to decide true LWW winners, then writes just the
  *     winning rows plus key-only equality-delete entries
  *     ([[LakeTable.deleteSchema]]) — bytes written per batch is
  *     O(batch), independent of touched-file size; reads resolve the
  *     deletes at scan and periodic [[LakeTable.compact]] (a major
  *     rewrite) folds them away. The Iceberg-v2 trade for streaming CDC
  *     upserts: bounded write amplification per micro-batch, rent paid
  *     in one periodic maintenance job.
  *   Both modes commit the SAME logical table state — the oracle-gated
  *   engine queries are indistinguishable across modes: each returns
  *   only its intent, and [[applyBatch]] commits it (step 7).
  * @param lake the table this applier writes — the only one. */
class CdcApplier(val lake: LakeTable, spark: SparkSession,
    clusterPartitions: Int = 0, mergeOnRead: Boolean = false) {

  import spark.implicits._

  /** Columns that never become lake data. */
  private val metaCols = Set("op", "part", "event_id", "schema_ver", "source")
  private val keyCols = CdcApplier.keyCols

  /** Apply one micro-batch of canonical change events. Expected columns:
    * repo, path, seq, op, part, commit, lang, content [+ promoted extras].
    * Metrics observed in the batch's own plan (`df.observe`, e.g. the
    * per-rule validation counts of `Validate.routeObserved`) become
    * lineage: once the fused stats job has scanned the batch, each
    * numeric observed field is read from the plan and committed in the
    * snapshot's lineage map under its own name — zero extra passes.
    * Steps 1–6 read the snapshot, fence, stat, evolve the schema and
    * write the merge mode's files; step 7 is the batch's one
    * [[LakeTable.commit]]. Returns the committed snapshot version. */
  def applyBatch(events: DataFrame, batchId: String): Long = {
    val snap = lake.currentSnapshot
    // ---- 1. offsets fence: drop events at-or-below the committed
    // high-watermark of their source partition (exactly-once resume). ----
    val committed = snap.map(_.offsets).getOrElse(Map.empty)
    // micro-batch-sized by construction (O2's 500-file-cap analog) —
    // checkpointed because the jobs below consume it twice: the fused
    // stats job fills it, and its blocks go with the frame
    val pre = CdcApplier.fence(events, committed)
    val fenced = pre.localCheckpoint(eager = false)

    // ---- 2+4 fused: ONE job over the fenced batch computes BOTH the
    // per-part offset stats AND the touched-file index set. Each task
    // locally aggregates (part → max seq, delete/upsert counts) and
    // matches its locally-deduped repos against the broadcast interval
    // index ([[graft.lake.RepoIntervalIndex]] — the batch's repo set
    // never reaches the driver); it emits one row per source partition
    // plus one per touched file index, so the collect is
    // metadata-scale and shuffle-free. Splitting these into separate
    // stats + prune jobs (the r2 shape) paid one extra pass over the
    // checkpointed batch plus two tiny exchanges of per-batch fixed latency
    // — at 10^6 micro-batches that fixed cost IS the throughput. ----
    val idxBc = snap.filter(_.files.nonEmpty).map(s => spark.sparkContext.broadcast(
      graft.lake.RepoIntervalIndex(s.files.map(f => (f.minRepo, f.maxRepo)))))
    val opDelete = Op.Delete
    // seq rides as Long.MinValue when NULL (a boxed-primitive encoder
    // field would throw on null; the replaced aggregate job silently
    // ignored null seqs, and MinValue can never win a max); a NULL op
    // counts as a delete, because both merges delete a key whose
    // winning event has one (its `=!= DELETE` is null, so no row
    // survives); a null repo matches no file
    val fusedRows = fenced
      .select(col("part").cast("string"),
        coalesce(col("seq").cast("long"), lit(Long.MinValue)),
        col("op").cast("string"), col("repo").cast("string"))
      .as[(String, Long, String, String)]
      .mapPartitions { it =>
        val stats = scala.collection.mutable.HashMap.empty[String, Array[Long]]
        val ix = idxBc.map(_.value)
        val seen = new java.util.HashSet[String]()
        it.foreach { case (part, seq, op, repo) =>
          val a = stats.getOrElseUpdate(part, Array(Long.MinValue, 0L, 0L))
          if (seq > a(0)) a(0) = seq
          if (op == null || op == opDelete) a(1) += 1 else a(2) += 1
          if (repo != null && ix.isDefined) seen.add(repo)
        }
        val touchedIdx = ix.map(_.touched(seen.asScala)).getOrElse(Iterator.empty)
        stats.iterator.map { case (p, a) => (false, p, a(0), a(1), a(2)) } ++
          touchedIdx.map(i => (true, "", i.toLong, 0L, 0L))
      }.collect()
    idxBc.foreach(_.unpersist())
    // that job ran every task of `pre`'s plan, so its observed metrics
    // are final: the driver merges a task's accumulators before the job
    // returns
    val observed = for {
      row <- pre.queryExecution.observedMetrics.values
      (f, i) <- row.schema.fields.zipWithIndex if f.dataType.isInstanceOf[NumericType]
    } yield f.name -> (if (row.isNullAt(i)) 0L else row.getAs[Number](i).longValue)
    val statRows = fusedRows.filter(!_._1)
    if (statRows.isEmpty) { // nothing new: idempotent no-op path
      return snap.map(_.version).getOrElse(
        lake.commit(batchId, committed, graft.core.Model.lakeSchemaV1, Nil, Nil, None))
    }
    val newOffsets = committed ++ statRows.groupBy(_._2).map { case (p, rs) =>
      p -> math.max(rs.map(_._3).max, committed.getOrElse(p, Long.MinValue)) }
    val deletes = statRows.map(_._4).sum
    val upserts = statRows.map(_._5).sum
    val touchedIdx = fusedRows.filter(_._1).map(_._3.toInt).toSet

    // ---- 3. schema evolution: promote new value columns; a retired
    // name is not new, it is its current name (the rename rule). ----
    val renames = snap.map(_.renames).getOrElse(Map.empty[String, String])
    def valueFields(t: StructType) = StructType(t.fields.filterNot(f => metaCols.contains(f.name)))
    val evolved = LakeTable.unionSchemas(
      valueFields(snap.map(_.schema).getOrElse(StructType(Nil))), valueFields(fenced.schema),
      renames)

    // ---- touched files, from the fused index set. ----
    val touched = snap.toSeq.flatMap(_.files.zipWithIndex
      .collect { case (f, i) if touchedIdx(i) => f })

    // ---- 5+6. merge and write: each mode returns its intent. ----
    val (dropped, added, rowsAfter) =
      if (mergeOnRead) morMerge(fenced, snap, evolved, renames, touched, batchId, upserts + deletes)
      else cowMerge(fenced, snap, evolved, renames, touched, batchId, upserts, upserts + deletes)
    // ---- 7. commit: the batch's one durable effect. ----
    lake.commit(batchId, newOffsets, evolved, dropped, added, snap, Map(
      "upserts" -> upserts, "deletes" -> deletes,
      "rowsBefore" -> snap.map(_.liveRows).getOrElse(0L),
      "rowsAfter" -> rowsAfter) ++ observed)
  }

  /** What a merge mode publishes: (files dropped, files added, live rows
    * after the batch) — committed by [[applyBatch]] alone. */
  private type Intent = (Seq[lake.FileEntry], Seq[lake.FileEntry], Long)

  // ---- 5+6 (copy-on-write): union touched-file rows with the batch,
  // ONE LWW hash-agg (no join, one shuffle — none for a small input;
  // subsumes in-batch dedup), rewrite touched data files range-clustered
  // and drop them; everything else stays by reference. Touched
  // merge-on-read delete files are never rewritten here — they stay
  // until a major compaction folds them. `events` = upserts + deletes;
  // change rows read retired names through `renames`. ----
  private def cowMerge(fenced: DataFrame, snap: Option[lake.Snapshot],
      evolved: StructType, renames: Map[String, String], touched: Seq[lake.FileEntry],
      batchId: String, upserts: Long, events: Long): Intent = {
    val touchedData = touched.filter(_.kind == "data")
    val baseRows = touchedData.map(_.rows).sum
    def conform(df: DataFrame, isChange: Boolean): DataFrame =
      df.select(LakeTable.conform(df, evolved, renames) ++ Seq(
        (if (isChange && df.columns.contains("op")) col("op") else lit(Op.Update)).as("_op"),
        lit(isChange).as("_isChange")): _*)
    // base rows resolve any merge-on-read deletes FIRST (a raw scan
    // would resurrect superseded versions into the merge) and map
    // renamed columns (pre-rename files must not read as null)
    val base =
      if (touchedData.isEmpty) None
      else Some(lake.scan(snap, Some(touchedData), Some(evolved)))
    val unioned = base.map(b => conform(b, isChange = false)
      .unionByName(conform(fenced, isChange = true)))
      .getOrElse(conform(fenced, isChange = true))
    val valueNames = evolved.fieldNames.toSeq.filterNot(keyCols.contains)
    val merged = LakeTable.gathered(unioned, baseRows + events).groupBy(keyCols.map(col): _*)
      .agg(max_by(struct((valueNames :+ "_op").map(col) :+ col("_isChange"): _*),
        struct(col("seq"), col("commit"), col("_isChange"))).as("r"))
      .filter(col("r._op") =!= Op.Delete)
      .select(keyCols.map(col) ++ valueNames.map(c => col(s"r.$c").as(c)): _*)
    // range-clustered: each data file gets a TIGHT disjoint (repo, path)
    // range, so a future batch touching k repos touches O(k/keyspace) of
    // the table; `clusterPartitions` pins the file count. Merged rows ≤ touched
    // base rows + batch upserts — both already on the driver (manifest
    // stats + the fused stats job)
    val newFiles = lake.writeDataFiles(
      LakeTable.clustered(merged, baseRows + upserts, clusterPartitions),
      f"b$batchId%s-v")
    // exact on a pure-CoW table; on a mixed table untouched MoR files
    // may still hold superseded versions, so the count is an upper bound
    // until the next major compaction
    val rowsAfter = snap.map(_.dataFiles.map(_.rows).sum).getOrElse(0L) -
      baseRows + newFiles.map(_.rows).sum
    (touchedData, newFiles, rowsAfter)
  }

  // ---- 5+6 (merge-on-read): decide true LWW winners from the KEY
  // COLUMNS of touched files (a columnar-pruned scan — the content
  // column, which dominates file bytes, is never read), then write only
  // the winning rows plus key-only equality-delete entries; nothing is
  // rewritten, so the intent drops no file. Existing delete entries and
  // DELETE tombstones participate as base VERSIONS so a stale event can
  // neither resurrect a deleted key nor shadow a newer base row.
  // `events` = the batch's upserts + deletes; change rows read retired
  // names through `renames`. ----
  private def morMerge(fenced: DataFrame, snap: Option[lake.Snapshot],
      evolved: StructType, renames: Map[String, String], touched: Seq[lake.FileEntry],
      batchId: String, events: Long): Intent = {
    val valueNames = evolved.fieldNames.toSeq.filterNot(keyCols.contains)
    // change rows carry every value column; base rows are the key-column
    // scans ([[LakeTable.deleteSchema]]), so their value columns read null
    def conformed(df: DataFrame, markers: Column*): DataFrame =
      df.select(LakeTable.conform(df, evolved, renames) ++ markers: _*)
    val touchedData = touched.filter(_.kind == "data")
    val touchedDel = touched.filter(_.kind == "delete")
    // the merge input is bounded by the batch's events plus every row of
    // the touched files (both already on the driver); an input of at most
    // [[CdcApplier.MorGatherRows]] is gathered into one partition, so
    // aggregate, explode and kinded write run as one task with no
    // exchange ([[LakeTable.gathered]])
    val inRows = events + touched.map(_.rows).sum
    val gather = inRows <= CdcApplier.MorGatherRows
    // base versions are only consulted for keys THIS batch changes — for
    // a SPARSE batch over a table too big to gather (event count vs
    // table rows, both already known: events from the fused stats job,
    // table rows from the manifest), semi-join the key-column scans to
    // the batch's keys before the merge aggregate, so a drizzle batch
    // aggregates O(batch) base rows, not every key in every touched
    // file. AQE broadcasts the batch's key column pair as it is — a
    // left-semi probe needs no unique build keys, so no `distinct` (a
    // shuffle) runs first. For a BULK batch the probe costs more than it
    // saves (measured +45% on a whole-keyspace 2M-row batch), so it is
    // skipped and the aggregate's map-side combine does the work. A
    // gathered input skips it too: its one task aggregates at most
    // [[CdcApplier.MorGatherRows]] rows, while the probe's two broadcast
    // jobs (one per key-column scan — AQE cannot reuse a broadcast across
    // the two checkpoint scans) are most of a small batch's fixed cost.
    val semiJoinBase = !gather &&
      events * 8 < snap.map(_.dataFiles.map(_.rows).sum).getOrElse(0L)
    def readKeyCols(fs: Seq[lake.FileEntry], isData: Boolean) = {
      // manifest-backed scan (zero listing calls per micro-batch — at
      // 10^6 batches the per-batch planning RPCs ARE the throughput)
      val base = lake.readEntries(fs, LakeTable.deleteSchema)
      val keys = if (semiJoinBase) base.join(fenced.select(keyCols.map(col): _*), keyCols, "left_semi")
        else base
      conformed(keys,
        lit(null).cast("string").as("_op"), lit(false).as("_isChange"), lit(isData).as("_isData"))
    }
    val parts: Seq[DataFrame] =
      Seq(conformed(fenced,
        (if (fenced.columns.contains("op")) col("op") else lit(Op.Update)).as("_op"),
        lit(true).as("_isChange"), lit(true).as("_isData"))) ++
        (if (touchedData.nonEmpty) Seq(readKeyCols(touchedData, isData = true)) else Nil) ++
        (if (touchedDel.nonEmpty) Seq(readKeyCols(touchedDel, isData = false)) else Nil)
    // ONE hash aggregate over (changes ∪ base versions): the best change
    // row (in-batch LWW — _isChange leads the ordering so a change is
    // picked whenever one exists) and the best base VERSION, where a
    // data row beats its paired delete entry on (seq, commit) ties —
    // the data row is the live one, a bare tombstone means deleted.
    val merged = LakeTable.gathered(parts.reduce(_ unionByName _), inRows,
      CdcApplier.MorGatherRows)
      .groupBy(keyCols.map(col): _*)
      .agg(
        max_by(struct((valueNames :+ "_op").map(col): _*),
          struct(col("_isChange"), col("seq"), col("commit"))).as("w"),
        max(when(!col("_isChange"),
          struct(col("seq").as("s"), col("commit").as("c"),
            col("_isData").as("d")))).as("bmax"),
        max(col("_isChange")).as("hasChange"))
    // actionable: a change exists AND strictly beats every base version
    // (ties go to base — an exact replay that slipped the fence stays a
    // no-op; a stale change loses and writes NOTHING)
    val actionable = col("hasChange") && (col("bmax").isNull ||
      struct(col("w.seq").as("s"), col("w.commit").as("c")) >
        struct(col("bmax.s").as("s"), col("bmax.c").as("c")))
    // ONE pass over the actionable winners writes both outputs,
    // partitioned by kind: each winner explodes into its data row (if it
    // lives: a null-op winner's `=!= DELETE` is null, so it writes none)
    // and its key-only equality-delete entry (if some base version
    // existed — a brand-new key has nothing to supersede; the entry
    // carries the WINNING (seq, commit) so strictly-older versions die at
    // read). The delete kind is SUBDIVIDED by whether a live base row
    // existed ('dlive' — a bare tombstone supersession is 'dtomb'), so
    // the exact newLive/oldLive counters for the lineage chain fall out
    // of the written files' footer stats — no count aggregate (one full
    // action per micro-batch); per-micro-batch fixed cost is what
    // sustained throughput is made of. One consumer needs no cache: a
    // range-clustered (bulk) write samples its input, but the sample
    // re-reads the merge's shuffle output, not the base scan (a gathered
    // input has no shuffle to re-read, but is small by definition).
    def entry(live: Column, value: String => Column, kind: Column): Column =
      when(live, struct(keyCols.map(col) ++ valueNames.map(c => value(c).as(c)) :+
        kind.as("_kind"): _*))
    val out = merged.filter(actionable).select(explode(array(
      entry(col("w._op") =!= Op.Delete, c => col(s"w.$c"), lit("data")),
      entry(col("bmax").isNotNull, c =>
        if (c == "seq" || c == "commit") col(s"w.$c") else lit(null).cast(evolved(c).dataType),
        when(col("bmax.d"), lit("dlive")).otherwise(lit("dtomb"))))).as("_e"))
      .filter(col("_e").isNotNull).select(col("_e.*"))
    // written rows ≤ 2 × batch keys ≤ 2 × events: every output row
    // (data winner or delete entry) maps to a batch key
    val entriesKinded = lake.writeDataFilesKinded(
      LakeTable.clustered(out, 2 * events, clusterPartitions),
      f"b$batchId%s-m", blooms = false, partitionCol = Some("_kind"),
      kindMap = k => if (k == "data") "data" else "delete")
    val newLive = entriesKinded.filter(_._1 == "data").map(_._2.rows).sum
    val oldLive = entriesKinded.filter(_._1 == "dlive").map(_._2.rows).sum
    // live-count chain from the base's exact live rows (file sums would
    // count superseded versions still sitting in MoR files)
    (Nil, entriesKinded.map(_._2), snap.map(_.liveRows).getOrElse(0L) + newLive - oldLive)
  }
}
