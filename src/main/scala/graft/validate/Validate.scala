package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative schema validation → clean/quarantine routing (operators
  * P3/P8 + S8 in SURVEY.md §2).
  *
  * The reference validates each event against per-(service,type) Cerberus
  * schemas with `allow_unknown=True` and routes failures to a dirty
  * prefix with error details
  * (`/root/reference/ef_ingestion_etl/data_profiling.py:46-58,176-179`).
  *
  * Here the rule set compiles to ONE Column expression producing an
  * `array<string>` of error messages — a single codegen'd projection, no
  * UDF, no per-row interpreter. `errors` empty ⇔ clean. Unknown extra
  * fields pass by construction (we project known fields only).
  */
object Validate {

  /** One rule: predicate that must hold, plus the error label recorded
    * when it does not. */
  final case class Rule(name: String, holds: Column)

  import graft.core.Model.Op

  // ---- the individual rules, each defined ONCE (shared by the global
  // rule set and the per-class registry's envelope — duplicated
  // predicates would silently diverge) -----------------------------------
  private val corruptJson = Rule("corrupt_json", col("_corrupt").isNull)
  private val missingEventId = Rule("missing_event_id", col("event_id").isNotNull)
  private val missingOp = Rule("missing_op", col("op").isNotNull)
  private val opNotInEnum =
    Rule("op_not_in_enum", col("op").isNull || col("op").isin(Op.all: _*))
  private val missingSeq = Rule("missing_seq", col("seq").isNotNull)
  private val negativeSeq = Rule("negative_seq", col("seq").isNull || col("seq") >= 0)
  private val missingRepo =
    Rule("missing_repo", col("repo").isNotNull && length(col("repo")) > 0)
  private val missingPath =
    Rule("missing_path", col("path").isNotNull && length(col("path")) > 0)
  // offsets key: events must say which binlog shard they came from
  private val missingPart = Rule("missing_part", col("part").isNotNull)
  // commit resolvable from either schema variant (v1 composite or v2):
  private val unresolvableCommit =
    Rule("unresolvable_commit", col("commit").isNotNull)
  // content required for upserts, irrelevant for deletes:
  private val missingContent = Rule("missing_content",
    col("op").isNull || col("op") === Op.Delete || col("content").isNotNull)
  // wrong-source discard (P1, `data_profiling.py:154-157`) is modeled as
  // a rule so discards are observable in the quarantine table; a NULL
  // source passes it
  private val wrongSource = Rule("wrong_source",
    col("source").isNull || ownSource(col("source")))

  /** The engine's own source, case-insensitively; NULL for a NULL
    * source, so a filter on it drops the row. The exact match comes
    * first: ICU-backed `lower()` is per-row expensive in Spark 4, and
    * virtually every row matches exactly. */
  def ownSource(source: Column): Column =
    source === "app.change.log" || lower(source) === "app.change.log"

  /** Rule set for parsed change events (the Cerberus-semantics analog:
    * required / nullable / enum / type / cross-field). */
  def changeEventRules: Seq[Rule] = Seq(
    corruptJson, missingEventId, missingOp, opNotInEnum, missingSeq,
    negativeSeq, missingRepo, missingPath, unresolvableCommit, missingPart,
    missingContent, wrongSource)

  /** Compile rules to a single `array<string>` errors column. With the
    * `corrupt_json` rule among them, a corrupt row is [[corruptOnly]]. */
  def errorsColumn(rules: Seq[Rule]): Column =
    if (rules.contains(corruptJson)) corruptOnly(violations(rules)) else violations(rules)

  /** The names of the `rules` a row violates, in rule order. */
  private def violations(rules: Seq[Rule]): Column =
    array_compact(array(rules.map(r =>
      when(!coalesce(r.holds, lit(false)), lit(r.name))): _*))

  /** `errs`, except that a row with `_corrupt` set violates exactly
    * `corrupt_json`: the codec's corrupt row carries no parsed field, so
    * no field rule says anything about it, and each `rule.missing_*`
    * counter counts parsed documents only. */
  private def corruptOnly(errs: Column): Column =
    when(col("_corrupt").isNotNull, array(lit(corruptJson.name))).otherwise(errs)

  // ---- per-(service, type) rule registry --------------------------------

  /** Event class = (service, kind) — the analog of the reference's
    * `{service}_{type}` Cerberus-schema dispatch
    * (`data_profiling.py:160-174`; the six schema files under
    * `dependencies/`). In
    * this engine the producing service is the `lang` toolchain and the
    * kind splits deletes from upserts (their required fields differ, the
    * same way `prediction` vs `event` schemas do). */
  final case class EventClass(service: String, kind: String) {
    def key: String = s"${service}_$kind"
  }

  /** Registry of per-class rule sets. Each class carries one or more
    * VARIANTS (≙ Cerberus `anyof_schema`, `microone_event.json:59-187`):
    * an event is clean if ANY variant validates; on failure the errors of
    * every variant are recorded, prefixed `v<i>.`, so the quarantine row
    * says why each acceptable shape was rejected.
    *
    * Ambiguity — two rule sets claiming the same class — is a
    * construction-time hard error (the reference `sys.exit(1)`s when two
    * schema files match one class, `data_profiling.py:165-170`); an
    * event whose class has NO entry is quarantined as
    * `unknown_event_class`, never crashed on (P8: the reference logs and
    * skips, `data_profiling.py:190-202`). */
  final class RuleRegistry private (val entries: Seq[(EventClass, Seq[Seq[Rule]])]) {

    private def classErrors(variants: Seq[Seq[Rule]]): Column = {
      val errs = variants.map(errorsColumn)
      if (errs.size == 1) errs.head
      else when(errs.map(e => size(e) === 0).reduce(_ || _),
          array().cast("array<string>"))
        .otherwise(concat(errs.zipWithIndex.map { case (e, i) =>
          transform(e, m => concat(lit(s"v$i."), m)) }: _*))
    }

    /** One errors Column: the [[envelopeRules]] plus the rules of the
      * event's class, which the class key selects; an unregistered class
      * yields `unknown_event_class`. A corrupt row is [[corruptOnly]]. A
      * when-chain over a driver-side-small registry — stays inside
      * whole-stage codegen. */
    def errorsFor(classKey: Column): Column =
      corruptOnly(concat(violations(envelopeRules), entries.foldRight(
          array(lit("unknown_event_class")).cast("array<string>"): Column) {
        case ((cls, variants), els) =>
          when(classKey === cls.key, classErrors(variants)).otherwise(els)
      }))
  }

  object RuleRegistry {
    def apply(entries: Seq[(EventClass, Seq[Seq[Rule]])]): RuleRegistry = {
      val dups = entries.groupBy(_._1.key).filter(_._2.size > 1).keys.toSeq.sorted
      require(dups.isEmpty,
        s"ambiguous rule registry: multiple rule sets for ${dups.mkString(", ")}")
      new RuleRegistry(entries)
    }
  }

  /** Envelope rules shared by every class (the common envelope block all
    * six reference schemas repeat, e.g. `microone_prediction.json:2-32`)
    * — the same Rule instances as [[changeEventRules]], minus the
    * commit/content rules the class variants own. */
  def envelopeRules: Seq[Rule] = Seq(
    corruptJson, missingEventId, missingOp, opNotInEnum, missingSeq,
    negativeSeq, missingRepo, missingPath, missingPart, wrongSource)

  /** The engine's default registry: one class per (known lang) ×
    * (upsert | delete), each with the two envelope variants on RAW wire
    * fields — v0 old-style composite `commit_lang = "<commit>#<lang>"`,
    * v1 new-style explicit `commit` + `lang`
    * (≙ `anyof_schema`, resolved dual-path in `data_profiling.py:73-86`).
    * Deletes do not require `content`; upserts do — the per-class
    * required-fields difference a single global rule set cannot express. */
  def defaultRegistry(services: Seq[String] =
      Seq("scala", "python", "java", "go", "md")): RuleRegistry =
    RuleRegistry(for {
      service <- services
      kind <- Seq("upsert", "delete")
    } yield {
      val v1 = Seq(Rule("unresolvable_commit",
        col("commit_lang").isNotNull && col("commit_lang").contains("#")))
      val v2 = Seq(
        Rule("missing_commit", col("commit").isNotNull),
        Rule("missing_lang", col("lang").isNotNull))
      val content =
        if (kind == "upsert") Seq(Rule("missing_content", col("content").isNotNull))
        else Nil
      EventClass(service, kind) -> Seq(v1 ++ content, v2 ++ content)
    })

  /** Class key of a raw decoded event: service from either envelope
    * variant (explicit `lang` or the composite's suffix — P5,
    * `data_profiling.py:61-87`), kind from the op. */
  def classKey: Column = concat_ws("_",
    coalesce(col("lang"),
      when(col("commit_lang").contains("#"),
        element_at(split(col("commit_lang"), "#"), -1))),
    when(col("op") === Op.Delete, lit("delete")).otherwise(lit("upsert")))

  /** Registry-dispatched routing: envelope rules + the event's class
    * rules in ONE projection. Runs on the RAW decoded shape (before
    * commit/lang resolution), like the reference profiles before it
    * flattens. Observed like [[routeObserved]]: `parsed`, `quarantined`
    * and the `rule.<name>` count of each envelope rule. */
  def routeByClass(df: DataFrame, registry: RuleRegistry = defaultRegistry(),
      classCol: Column = classKey): (DataFrame, DataFrame) =
    observedSplit(df.withColumn("errors", registry.errorsFor(classCol)),
      envelopeRules, "validation")

  /** Annotate with `errors`; clean ⇔ `size(errors)=0`. One pass. */
  def annotate(df: DataFrame, rules: Seq[Rule] = changeEventRules): DataFrame =
    df.withColumn("errors", errorsColumn(rules))

  /** Split into (clean, quarantined) with per-rule observability (the
    * reference's per-event PROFILER line, `data_profiling.py:180-189`,
    * and its Kibana roll-up `process_logs.py:140-167`, folded into the
    * batch's own jobs). Both views share one annotated plan; with
    * whole-stage codegen the rule evaluation is a single projection
    * reused by both sinks. A `df.observe` CollectMetrics node named
    * `name` counts, per rule, the events that violate it (`rule.<name>`),
    * plus all rows (`parsed`) and quarantined rows (`quarantined`) — the
    * lineage keys themselves. The counts ride the first job that scans
    * the batch, at zero extra passes, and are read from that plan's
    * `queryExecution.observedMetrics` ([[graft.apply.CdcApplier.applyBatch]]
    * commits them); full per-event detail stays in the quarantine output.
    * `name` must be unique among the observations of one plan. */
  def routeObserved(df: DataFrame, rules: Seq[Rule] = changeEventRules,
      name: String = "validation"): (DataFrame, DataFrame) =
    observedSplit(annotate(df, rules), rules, name)

  /** [[cleanAndDirty]] of `annotated` under one observation `name` of
    * `parsed`, `quarantined` and, for each of `counted`, the rows whose
    * `errors` name it. */
  private def observedSplit(annotated: DataFrame, counted: Seq[Rule],
      name: String): (DataFrame, DataFrame) = {
    val aggs = counted.map(r =>
      sum(when(array_contains(col("errors"), r.name), 1L).otherwise(0L))
        .as(s"rule.${r.name}")) ++ Seq(
      count(lit(1)).as("parsed"),
      sum(when(size(col("errors")) > 0, 1L).otherwise(0L)).as("quarantined"))
    cleanAndDirty(annotated.observe(name, aggs.head, aggs.tail: _*))
  }

  /** (clean, quarantined) views of one annotated plan: clean rows drop the
    * annotation, quarantined rows keep the raw event and its errors. */
  private def cleanAndDirty(annotated: DataFrame): (DataFrame, DataFrame) =
    (annotated.filter(size(col("errors")) === 0).drop("errors", "_corrupt", "raw"),
      annotated.filter(size(col("errors")) > 0)
        .select(col("raw"), col("errors"), lit("validate").as("stage")))
}
