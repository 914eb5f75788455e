package graft.queries

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.apply.CdcApplier
import graft.lake.LakeTable

/** The engine itself under the driver's DuckDB gate: reinterpret the
  * `events` table as a CDC changelog, replay it through the full apply
  * path (offsets fence → LWW reduce → copy-on-write MERGE → snapshot
  * commits) in three batches into a fresh lake, and return the final
  * table state. The oracle is plain SQL LWW-with-deletes — so this one
  * query certifies merge, delete, ordering, multi-batch commit and
  * snapshot-read correctness against an independent engine.
  */
object EngineE2E {

  /** events → canonical change events. Deterministic mapping mirrored in
    * the oracle SQL: key=(r<user_id%37>, p<user_id>), seq=event_id,
    * error⇒DELETE, signup⇒INSERT else UPDATE, content=props. */
  private def asChanges(ev: DataFrame): DataFrame =
    ev.select(
      when(col("event_type") === "error", lit("DELETE"))
        .when(col("event_type") === "signup", lit("INSERT"))
        .otherwise(lit("UPDATE")).as("op"),
      pmod(col("user_id"), lit(4)).cast("string").as("part"),
      concat(lit("r"), pmod(col("user_id"), lit(37)).cast("string")).as("repo"),
      concat(lit("p"), col("user_id").cast("string")).as("path"),
      md5(concat(lit("c"), col("event_id").cast("string"))).as("commit"),
      col("event_type").as("lang"),
      col("props").as("content"),
      col("event_id").as("seq"))

  /** One run: what the engine queries of one evaluation of [[all]]
    * share. Only that map's functions reach it, so it lives as long as
    * the map; keyed by dir alone, it serves the session it is called with.
    *  - one temp root, deleted at JVM exit, holding every lake of the run;
    *  - max(event_id) per dir, from which five queries cut batches;
    *  - one replayed lake per (dir, merge mode): the queries over a replay
    *    read different surfaces (final state / lineage / change feed /
    *    time travel / SQL source / view) of the same apply.
    *    - MERGE-ON-READ (`e2e-0..2`): the oracle is mode-blind, so
    *      q22/q25/q27/q33/q35/q40 all-green certifies that MoR table state
    *      (winners + equality-delete resolution, across multi-batch
    *      commits, time travel, change feeds and point lookups) is
    *      indistinguishable from the plain LWW replay.
    *    - COPY-ON-WRITE (`cow-0..1`): leaves no delete files, so
    *      `format("graft")` binds it to the vectorized parquet scan
    *      ([[graft.sources.GraftDataSource]] bound path, q41) instead of
    *      the resolving relation; q44/q49 diff its two snapshots. */
  private final class Run {
    private lazy val root = {
      val d = Files.createTempDirectory("graft-e2e-")
      sys.addShutdownHook(LakeTable.deleteTree(d))
      d
    }
    private val maxSeqs = mutable.Map.empty[String, Long]
    private val lakes = mutable.Map.empty[(String, Boolean), LakeTable]

    /** A fresh directory `<prefix>-…` under the run root. */
    def dir(prefix: String): Path = Files.createTempDirectory(root, s"$prefix-")

    def maxSeq(spark: SparkSession, dir: String): Long = synchronized {
      maxSeqs.getOrElseUpdate(dir, spark.read.parquet(s"$dir/events.parquet")
        .agg(max(col("event_id"))).head().getLong(0))
    }

    /** Replay the changelog into a fresh lake under the run root:
      * merge-on-read in three batches `<prefix>-0..2` (cuts at max/3 and
      * 2·max/3), copy-on-write in two, `<prefix>-0..1` (cut at max/2). */
    def replay(spark: SparkSession, dir: String, mergeOnRead: Boolean,
        prefix: String): LakeTable = {
      val changes = asChanges(spark.read.parquet(s"$dir/events.parquet"))
      val mx = maxSeq(spark, dir)
      val cuts = if (mergeOnRead) Seq(mx / 3, 2 * mx / 3) else Seq(mx / 2)
      val lake = new LakeTable(this.dir(s"$prefix-lake").toString, spark)
      val applier = new CdcApplier(lake, spark, mergeOnRead = mergeOnRead)
      // batch i takes the seqs in (cut i-1, cut i]
      val edges = Long.MinValue +: cuts :+ Long.MaxValue
      edges.zip(edges.tail).zipWithIndex.foreach { case ((lo, hi), i) =>
        applier.applyBatch(changes.filter(col("seq") > lo && col("seq") <= hi), s"$prefix-$i")
      }
      lake
    }

    /** The run's shared replay of `dir` in one merge mode. */
    def replayed(spark: SparkSession, dir: String, mergeOnRead: Boolean): LakeTable =
      synchronized(lakes.getOrElseUpdate((dir, mergeOnRead),
        replay(spark, dir, mergeOnRead, if (mergeOnRead) "e2e" else "cow")))
  }

  /** q22 — full engine replay; output = final lake state with content
    * digests. */
  private def q22CdcReplay(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = true)
    lake.read().select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q25 — the lineage/metrics side-table under the oracle gate (S10/A2,
    * ≙ PROFILER→ES roll-up `process_logs.py:140-190`): per-batch
    * (upserts, deletes, rows-after-commit) from
    * [[LakeTable.lineageTable]]; the oracle recomputes every counter
    * independently in SQL. */
  private def q25Lineage(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = true)
    lake.lineageTable()
      .select(col("batch_id"), col("upserts"), col("deletes"), col("rows_after"))
  }

  /** q27 — incremental change feed ([[LakeTable.readSince]]): the rows a
    * downstream CDC consumer polls after the second batch's watermark.
    * File-level seq-stats pruning keeps the scan proportional to churn;
    * the oracle is the LWW final state restricted to seq > cut2. */
  private def q27ChangesSince(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = true)
    val cut2 = 2 * run.maxSeq(spark, dir) / 3
    val (feed, _, _) = lake.readSince(cut2)
    feed.select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q33 — snapshot time travel under the oracle gate: read the shared
    * replayed lake AT the snapshot committed by the SECOND batch
    * ([[LakeTable.read]] with an explicit version — the Iceberg
    * `VERSION AS OF` pattern; old snapshots stay readable because commits
    * never mutate data files, they only swap manifests). The oracle is
    * the LWW final state of the event prefix `seq ≤ 2·max/3` — so this
    * query certifies that historical snapshots are exact, not just the
    * head. Resolved by batchId (not a hardcoded version number) so an
    * empty batch's no-op commit cannot shift it. */
  private def q33TimeTravel(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = true)
    val v = lake.versions.find(v => lake.snapshot(v).batchId == "e2e-1")
      .getOrElse(sys.error("snapshot for batch e2e-1 not found"))
    lake.read(Some(v)).select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q35 — point lookups under the oracle gate ([[LakeTable.lookupKeys]]):
    * a service-style read of a small deterministic key set (every 13th
    * user) against the replayed lake. Manifest repo ranges prune
    * files, parquet bloom filters + min/max prune row groups inside the
    * survivors; the oracle is the LWW final state restricted to the same
    * keys. Deleted keys return no row on either side. */
  private def q35PointLookup(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = true)
    val uids = spark.read.parquet(s"$dir/events.parquet")
      .filter(pmod(col("user_id"), lit(13)) === 0)
      .select(col("user_id")).distinct().collect()
      .map(_.get(0).asInstanceOf[Number].longValue).sorted
    val keys = uids.map(u => (s"r${u % 37}", s"p$u")).toSeq
    val (rows, _, _) = lake.lookupKeys(keys)
    rows.select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q28 — the skew-defense reduce under the oracle gate: the two-phase
    * salted LWW reduce ([[CdcApplier.saltedLwwReduce]], the hot-key path
    * the north rule names) over the changelog, which must be
    * INDISTINGUISHABLE from a plain per-key LWW — the oracle knows
    * nothing about salt. */
  private def q28SaltedLww(spark: SparkSession, dir: String): DataFrame = {
    val changes = asChanges(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        col("content"), col("seq"))
    CdcApplier.saltedLwwReduce(changes, salts = 16)
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q31 — lake maintenance under the oracle gate: fresh 3-batch replay
    * (own lake — the shared one must stay pristine for q22/q25/q27),
    * then compact every small file and expire+vacuum all but the last
    * snapshot. The table state must be byte-identical to the plain
    * replay (q22's oracle), proving compaction and vacuum are pure
    * maintenance. */
  private def q31CompactVacuum(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    // MoR replay → MAJOR compaction (folds the equality-delete files
    // into a resolved rewrite and drops them) → expiry+vacuum:
    // byte-identical to the plain replay under q22's oracle, proving the
    // whole MoR maintenance cycle is pure
    val lake = run.replay(spark, dir, mergeOnRead = true, "cv")
    lake.compact(minRows = Long.MaxValue)
    // require, not assert: this is a query-path invariant check and
    // must survive -Xdisable-assertions
    require(lake.currentSnapshot.exists(_.deleteFiles.isEmpty),
      "major compaction must fold all delete files")
    lake.expireSnapshots(keepLast = 1)
    lake.read().select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q32 — per-rule observability under the oracle gate (the VERDICT-r2
    * `df.observe` ask): a 2-batch replay whose changelog
    * deterministically violates two validation rules (wrong-source slice,
    * missing content on upserts); the per-rule violation counts are a
    * CollectMetrics node in each batch's own plan
    * ([[graft.validate.Validate.routeObserved]]), which
    * [[CdcApplier.applyBatch]] reads after its stats job and commits into
    * the snapshot lineage; output = the [[LakeTable.lineageRules]]
    * side-table.
    * The oracle recomputes every (batch, rule) count — including the
    * all-zero rules — independently in SQL. */
  private def q32ObservedRules(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    import graft.validate.Validate
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val mx = run.maxSeq(spark, dir)
    // ONE source of truth for the event→changelog mapping: reuse
    // asChanges and derive the extra columns from its outputs
    // (seq = event_id, path = "p<user_id>" by construction)
    val uid = substring(col("path"), 2, 100).cast("long")
    val changes = asChanges(ev)
      .withColumn("event_id", concat(lit("ev-"), col("seq").cast("string")))
      .withColumn("content",
        when(pmod(col("seq"), lit(41)) === 0, lit(null).cast("string"))
          .otherwise(col("content")))
      .withColumn("source",
        when(pmod(uid, lit(50)) === 0, lit("other.system"))
          .otherwise(lit("app.change.log")))
      .withColumn("_corrupt", lit(null).cast("string"))
      .withColumn("raw", lit("{}"))
    val lake = new LakeTable(run.dir("obs-lake").toString, spark)
    val applier = new CdcApplier(lake, spark)
    val canonical = Seq("op", "part", "repo", "path", "commit", "lang",
      "content", "seq").map(col)
    Seq(0, 1).foreach { b =>
      val slice =
        if (b == 0) changes.filter(col("seq") <= mx / 2)
        else changes.filter(col("seq") > mx / 2)
      val (clean, _) = Validate.routeObserved(slice)
      applier.applyBatch(clean.select(canonical: _*), s"obs-$b")
    }
    lake.lineageRules()
      .select(col("batch_id"), col("rule"), col("violations"))
  }

  /** q40 — the SQL data source over a MERGE-ON-READ snapshot: read the
    * shared replayed lake through `spark.read.format("graft")` with a
    * repo-subset predicate. Delete files are live, so this certifies the
    * RESOLVING relation end-to-end — its engine plan (substituted by
    * [[graft.sources.GraftExtensions]] in an extension session, run by
    * the V1 `buildScan` otherwise), manifest file pruning from the
    * pushed-down predicate, and rename-free schema binding — against an
    * oracle that knows only the LWW final state. */
  private def q40SqlSourceMor(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = true)
    spark.read.format("graft").load(lake.root)
      .filter(col("repo").isin("r0", "r5", "r11", "r23", "r36"))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q41 — the SQL data source BOUND path: a copy-on-write replay (no
    * delete files) read through `format("graft")` with a seq watermark —
    * [[LakeTable.readSince]] expressed as plain SQL. The filter prunes
    * files via the manifest's seq stats at planning time and continues
    * into parquet row groups; the result must equal the LWW final state
    * past the watermark. */
  private def q41SqlSourcePruned(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = false)
    val cut2 = 2 * run.maxSeq(spark, dir) / 3
    spark.read.format("graft").load(lake.root)
      .filter(col("seq") > cut2)
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"), col("seq"))
  }

  /** q44 — row-level change-data feed between the copy-on-write replay's
    * two snapshots ([[LakeTable.changeFeed]], the Delta CDF idea):
    * candidate keys from disturbed files only, state at each version
    * re-read restricted to those keys, full-outer diff classified
    * insert / update / delete with before/after images. The oracle
    * recomputes both LWW states from the raw events and diffs them —
    * mode- and layout-blind. */
  private def q44ChangeFeed(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = false)
    lake.changeFeed(0L, 1L)
      .select(col("repo"), col("path"), col("change_type"),
        col("before.seq").as("before_seq"),
        sha2(col("before.content"), 256).as("before_sha"),
        col("after.seq").as("after_seq"),
        sha2(col("after.content"), 256).as("after_sha"))
  }

  /** q45 — the SQL MERGE face under the oracle gate
    * ([[graft.sources.GraftMergeRelation]]): a merge temp view over a
    * fresh lake, two `INSERT INTO … SELECT` batches routed through the
    * full CDC apply (fence → LWW merge → commit), read back THROUGH the
    * view (scan-time head resolution sees the second insert). SQL
    * inserts carry no `op`, so every event is an upsert — the oracle is
    * plain last-writer-wins with no delete filter. */
  private def q45SqlMergeFace(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val changes = asChanges(spark.read.parquet(s"$dir/events.parquet"))
    val cut = run.maxSeq(spark, dir) / 2
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_merge_face
         |USING graft OPTIONS (path '${run.dir("sqlmerge-lake")}', merge 'true', mergeOnRead 'true')"""
        .stripMargin)
    changes.createOrReplaceTempView("graft_merge_face_src")
    spark.sql("INSERT INTO graft_merge_face SELECT repo, path, commit, lang, " +
      s"content, seq FROM graft_merge_face_src WHERE seq <= $cut")
    spark.sql("INSERT INTO graft_merge_face SELECT repo, path, commit, lang, " +
      s"content, seq FROM graft_merge_face_src WHERE seq > $cut")
    val out = spark.sql("SELECT repo, path, commit, lang, " +
      "sha2(content, 256) AS content_sha, seq FROM graft_merge_face")
    spark.sql("DROP VIEW graft_merge_face")
    spark.sql("DROP VIEW graft_merge_face_src")
    out
  }

  /** q49 — incremental materialized-view maintenance from the row-level
    * change feed ([[graft.apply.IncrementalView]], the differential-
    * dataflow pattern restricted to additive aggregates): bootstrap a
    * per-(repo, lang) count/total-length roll-up from snapshot v0 of the
    * CoW replay, then maintain it INCREMENTALLY from `changeFeed(0, 1)`
    * — O(churn) deltas, point-pruned reads of touched groups only,
    * re-applied through the full CDC path into a view lake of its own
    * (snapshots, fencing, further change feeds downstream). The oracle
    * recomputes the roll-up directly over the LWW final state, so a
    * dropped retraction, a double-counted group move (an update that
    * changes `lang` moves its row BETWEEN groups) or a group that should
    * have emptied out all break the hash. */
  private def q49IncrementalView(run: Run)(spark: SparkSession, dir: String): DataFrame = {
    val lake = run.replayed(spark, dir, mergeOnRead = false)
    val view = new graft.apply.IncrementalView(Seq("repo", "lang"),
      Seq("total_len" -> length(col("content")).cast("long")))
    val viewLake = new LakeTable(run.dir("view-lake").toString, spark)
    val viewApplier = new CdcApplier(viewLake, spark)
    view.initialize(viewApplier, lake.read(Some(0L)), "view-0", seq = 1L)
    view.maintain(viewApplier, lake.changeFeed(0L, 1L), "view-1", seq = 2L)
    view.read(viewLake)
  }

  /** The engine queries of one fresh [[Run]]. */
  def all: Map[String, (SparkSession, String) => DataFrame] = {
    val run = new Run
    Map(
      "q49_incremental_view" -> q49IncrementalView(run) _,
      "q45_sql_merge_face" -> q45SqlMergeFace(run) _,
      "q40_sql_source_mor" -> q40SqlSourceMor(run) _,
      "q41_sql_source_pruned" -> q41SqlSourcePruned(run) _,
      "q44_change_feed" -> q44ChangeFeed(run) _,
      "q32_observed_rules" -> q32ObservedRules(run) _,
      "q22_cdc_engine_replay" -> q22CdcReplay(run) _,
      "q25_lineage_metrics" -> q25Lineage(run) _,
      "q27_changes_since" -> q27ChangesSince(run) _,
      "q28_salted_lww" -> q28SaltedLww _,
      "q31_compact_vacuum" -> q31CompactVacuum(run) _,
      "q33_time_travel" -> q33TimeTravel(run) _,
      "q35_point_lookup" -> q35PointLookup(run) _)
  }

  val oracles: Map[String, String] = Map(
    "q49_incremental_view" ->
      """SELECT repo, lang, n_rows, total_len FROM (
        | SELECT repo, lang,
        |        CAST(count(*) AS BIGINT) AS n_rows,
        |        CAST(sum(length(content)) AS BIGINT) AS total_len
        | FROM (
        |  SELECT * FROM (
        |   SELECT concat('r', user_id % 37) AS repo,
        |          event_type AS lang,
        |          props AS content,
        |          CASE WHEN event_type = 'error' THEN 'DELETE'
        |               WHEN event_type = 'signup' THEN 'INSERT'
        |               ELSE 'UPDATE' END AS op,
        |          row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |   FROM events)
        |  WHERE rn = 1 AND op <> 'DELETE')
        | GROUP BY repo, lang)""".stripMargin,
    "q45_sql_merge_face" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1""".stripMargin,
    "q40_sql_source_mor" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        user_id,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 AND op <> 'DELETE' AND user_id % 37 IN (0, 5, 11, 23, 36)""".stripMargin,
    "q41_sql_source_pruned" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 AND op <> 'DELETE'
        |  AND seq > (SELECT (2*max(event_id))//3 FROM events)""".stripMargin,
    "q44_change_feed" ->
      """WITH ch AS (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op
        | FROM events),
        |a AS (SELECT * FROM (
        |   SELECT ch.*, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
        |   FROM ch WHERE seq <= (SELECT max(event_id)//2 FROM events))
        |  WHERE rn = 1 AND op <> 'DELETE'),
        |b AS (SELECT * FROM (
        |   SELECT ch.*, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
        |   FROM ch)
        |  WHERE rn = 1 AND op <> 'DELETE')
        |SELECT coalesce(b.repo, a.repo) AS repo,
        |       coalesce(b.path, a.path) AS path,
        |       CASE WHEN a.seq IS NULL THEN 'insert'
        |            WHEN b.seq IS NULL THEN 'delete'
        |            ELSE 'update' END AS change_type,
        |       a.seq AS before_seq, a.content_sha AS before_sha,
        |       b.seq AS after_seq, b.content_sha AS after_sha
        |FROM a FULL JOIN b ON a.repo = b.repo AND a.path = b.path
        |WHERE a.seq IS NULL OR b.seq IS NULL OR a.seq <> b.seq""".stripMargin,
    "q32_observed_rules" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |e AS (SELECT event_id, user_id,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        CASE WHEN event_id <= (SELECT mx//2 FROM m)
        |             THEN 'obs-0' ELSE 'obs-1' END AS b
        |      FROM events),
        |nz AS (
        | SELECT b, 'wrong_source' AS rule,
        |        CAST(sum(CASE WHEN user_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS violations
        | FROM e GROUP BY b
        | UNION ALL
        | SELECT b, 'missing_content',
        |        CAST(sum(CASE WHEN event_id % 41 = 0 AND op <> 'DELETE' THEN 1 ELSE 0 END) AS BIGINT)
        | FROM e GROUP BY b),
        |z AS (
        | SELECT bb.b, r.rule, CAST(0 AS BIGINT) AS violations
        | FROM (SELECT DISTINCT b FROM e) bb,
        |      (VALUES ('corrupt_json'),('missing_event_id'),('missing_op'),
        |              ('op_not_in_enum'),('missing_seq'),('negative_seq'),
        |              ('missing_repo'),('missing_path'),('unresolvable_commit'),
        |              ('missing_part')) r(rule))
        |SELECT batch_id, rule, violations FROM (
        | SELECT b AS batch_id, rule, violations FROM nz
        | UNION ALL
        | SELECT b AS batch_id, rule, violations FROM z)""".stripMargin,
    "q22_cdc_engine_replay" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 AND op <> 'DELETE'""".stripMargin,
    "q25_lineage_metrics" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |e AS (SELECT user_id, event_id,
        |  CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS op,
        |  CASE WHEN event_id <= (SELECT mx//3 FROM m) THEN 0
        |       WHEN event_id <= (SELECT (2*mx)//3 FROM m) THEN 1 ELSE 2 END AS b
        | FROM events),
        |counts AS (
        | SELECT b, CAST(sum(CASE WHEN op <> 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS upserts,
        |        CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS deletes
        | FROM e GROUP BY b),
        |states AS (
        | SELECT cb, CAST(count(*) AS BIGINT) AS rows_after FROM (
        |   SELECT bb.b AS cb, user_id, arg_max(op, event_id) AS last_op
        |   FROM e JOIN (VALUES (0),(1),(2)) AS bb(b) ON e.b <= bb.b
        |   GROUP BY bb.b, user_id)
        | WHERE last_op <> 'DELETE' GROUP BY cb)
        |SELECT concat('e2e-', CAST(c.b AS VARCHAR)) AS batch_id,
        |       upserts, deletes, rows_after
        |FROM counts c JOIN states s ON c.b = s.cb""".stripMargin,
    "q27_changes_since" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 AND op <> 'DELETE'
        |  AND seq > (SELECT (2*max(event_id))//3 FROM events)""".stripMargin,
    "q31_compact_vacuum" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 AND op <> 'DELETE'""".stripMargin,
    "q35_point_lookup" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        user_id,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 AND op <> 'DELETE' AND user_id % 13 = 0""".stripMargin,
    "q33_time_travel" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        CASE WHEN event_type = 'error' THEN 'DELETE'
        |             WHEN event_type = 'signup' THEN 'INSERT'
        |             ELSE 'UPDATE' END AS op,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events
        | WHERE event_id <= (SELECT (2*max(event_id))//3 FROM events))
        |WHERE rn = 1 AND op <> 'DELETE'""".stripMargin,
    "q28_salted_lww" ->
      """SELECT repo, path, commit, lang, content_sha, seq FROM (
        | SELECT concat('r', user_id % 37) AS repo,
        |        concat('p', user_id) AS path,
        |        md5(concat('c', event_id)) AS commit,
        |        event_type AS lang,
        |        sha256(props) AS content_sha,
        |        event_id AS seq,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1""".stripMargin)
}
