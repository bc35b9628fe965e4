package graft.model

/** Config model: a Scala mirror of the reference's FlowGroup/Action YAML
  * surface (reference: src/lhp/models/_flowgroup.py:12-21,
  * src/lhp/models/_action.py:65-128, _enums.py:6-10,60-63).
  *
  * Unlike the reference's single ~60-field pydantic God-model, actions are a
  * sealed trait with per-subtype payloads — invalid combinations are
  * unrepresentable.
  */

/** Action-level operational-metadata selection (reference _action.py
  * `operational_metadata: bool | [col, ...]`). The field is TRI-state —
  * an explicit `false` is not the same as absent: `false` opts the action
  * OUT of a flowgroup-level toggle, absent inherits it. Collapsing both to
  * "no selection" made per-action opt-out unreachable from YAML. */
sealed trait OpMeta
object OpMeta {
  /** Explicit `operational_metadata: false` — suppress injection even when
    * the flowgroup toggle is on. */
  case object Disabled extends OpMeta
  /** `true` (cols = Nil → all default columns) or a column-name subset. */
  final case class Enabled(cols: Seq[String]) extends OpMeta
}

final case class FlowGroup(
    pipeline: String,
    flowgroup: String,
    presets: Seq[String] = Nil,
    useTemplate: Option[String] = None,
    templateParameters: Map[String, Any] = Map.empty,
    variables: Map[String, String] = Map.empty,
    actions: Seq[Action] = Nil,
    /** Flowgroup-level operational-metadata toggle, already RESOLVED at
      * parse time against the document root (an explicit flowgroup-level
      * `false` beats a root-level `true`, so no tri-state survives here):
      * None = off, Some(Nil) = all default columns, Some(names) = subset. */
    operationalMetadata: Option[Seq[String]] = None)

sealed trait Action {
  def name: String
  /** Output view name this action defines (actions chain by view name). */
  def target: Option[String]
  /** Input view/table names. */
  def sources: Seq[String]
  /** Action-level operational-metadata selection (reference _action.py
    * `operational_metadata: bool | [col, ...]`, honored by EVERY load/
    * transform/write generator via OperationalMetadataService): None =
    * inherit the flowgroup-level toggle, [[OpMeta.Disabled]] = explicit
    * opt-out, [[OpMeta.Enabled]] = all default columns (Nil) or a subset. */
  def operationalMetadata: Option[OpMeta]
  /** Explicit upstream table references (reference _action.py:101-105):
    * dependency-graph edges that cannot be parsed from SQL/Python sources —
    * e.g. a python-function transform reading a table another flowgroup
    * produces. Fed into [[graft.plan.Planner]] ordering and
    * [[graft.plan.DependencyAnalyzer]] cross-flowgroup graphs exactly like
    * Catalyst-extracted SQL refs. */
  def dependsOn: Seq[String]
  /** All dependency inputs: declared sources plus explicit depends_on. */
  final def inputNames: Seq[String] = (sources ++ dependsOn).distinct

  /** [[graft.plan.DependencyAnalyzer.actionInputs]]'s last result for this
    * action, so the planner and the flowgroup graph share one SQL parse.
    * Not a constructor field: equality, hashCode and `copy` ignore it, and
    * it is freed with the action. */
  @transient @volatile private[graft] var inputsSlot: Action.Inputs = null
}

object Action {
  /** One stored input list and the key it was derived under: the session's
    * SQL parser, `trustDependsOn` and the project root `sql_path`
    * resolves against. */
  private[graft] final class Inputs(val parser: AnyRef, val trustDependsOn: Boolean,
      val projectRoot: String, val names: Seq[String])

  /** Attach an operational-metadata selection to any action (the shared
    * field's counterpart to [[withDependsOn]]). */
  def withOperationalMetadata(a: Action, sel: Option[OpMeta]): Action =
    if (sel.isEmpty) a else a match {
      case x: CloudFilesLoad => x.copy(operationalMetadata = sel)
      case x: TableLoad => x.copy(operationalMetadata = sel)
      case x: SqlLoad => x.copy(operationalMetadata = sel)
      case x: JdbcLoad => x.copy(operationalMetadata = sel)
      case x: KafkaLoad => x.copy(operationalMetadata = sel)
      case x: CustomSourceLoad => x.copy(operationalMetadata = sel)
      case x: FunctionLoad => x.copy(operationalMetadata = sel)
      case x: SqlTransform => x.copy(operationalMetadata = sel)
      case x: SchemaTransformAction => x.copy(operationalMetadata = sel)
      case x: DataQualityTransform => x.copy(operationalMetadata = sel)
      case x: TempTableTransform => x.copy(operationalMetadata = sel)
      case x: FunctionTransform => x.copy(operationalMetadata = sel)
      case x: WatermarkTransform => x.copy(operationalMetadata = sel)
      case x: StreamingTableWrite => x.copy(operationalMetadata = sel)
      case x: MaterializedViewWrite => x.copy(operationalMetadata = sel)
      case x: SinkWrite => x.copy(operationalMetadata = sel)
      case x: TestAction => x.copy(operationalMetadata = sel)
    }

  /** Attach explicit depends_on edges to any action — the one place the
    * sealed hierarchy is enumerated for the shared field. */
  def withDependsOn(a: Action, deps: Seq[String]): Action =
    if (deps.isEmpty) a else a match {
      case x: CloudFilesLoad => x.copy(dependsOn = deps)
      case x: TableLoad => x.copy(dependsOn = deps)
      case x: SqlLoad => x.copy(dependsOn = deps)
      case x: JdbcLoad => x.copy(dependsOn = deps)
      case x: KafkaLoad => x.copy(dependsOn = deps)
      case x: CustomSourceLoad => x.copy(dependsOn = deps)
      case x: FunctionLoad => x.copy(dependsOn = deps)
      case x: SqlTransform => x.copy(dependsOn = deps)
      case x: SchemaTransformAction => x.copy(dependsOn = deps)
      case x: DataQualityTransform => x.copy(dependsOn = deps)
      case x: TempTableTransform => x.copy(dependsOn = deps)
      case x: FunctionTransform => x.copy(dependsOn = deps)
      case x: WatermarkTransform => x.copy(dependsOn = deps)
      case x: StreamingTableWrite => x.copy(dependsOn = deps)
      case x: MaterializedViewWrite => x.copy(dependsOn = deps)
      case x: SinkWrite => x.copy(dependsOn = deps)
      case x: TestAction => x.copy(dependsOn = deps)
    }
}

// ------------------------------------------------------------------- loads

sealed trait LoadAction extends Action {
  def readMode: String // "batch" | "stream"
}

/** File-based incremental ingestion (the cloudfiles operator, mapped to OSS
  * file-stream sources — reference: generators/load/cloudfiles.py). */
final case class CloudFilesLoad(
    name: String,
    target: Option[String],
    path: String,
    format: String, // json | csv | parquet | text
    options: Map[String, String] = Map.empty,
    schemaPath: Option[String] = None,
    schemaDdl: Option[String] = None,
    readMode: String = "stream",
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def sources: Seq[String] = Nil
}


/** Catalog-table read, batch or stream (the delta load operator). */
final case class TableLoad(
    name: String,
    target: Option[String],
    table: String,
    whereClause: Seq[String] = Nil,
    selectColumns: Seq[String] = Nil,
    readMode: String = "batch",
    /** Point-in-time read (version_as_of / versionAsOf): the table state as
      * of this `__changes` commit version, reconstructed by CHANGE-LOG
      * REPLAY — Delta time travel emulated for engine-managed tables
      * written with `change_log: true`. Covers appends, SCD1, SCD2
      * (history-at-v), ignore_null_updates, column lists and snapshot-CDC;
      * apply_as_truncates and mixed-option fan-in logs fail loudly.
      * Batch-only. */
    versionAsOf: Option[Long] = None,
    /** Timestamp time travel (timestamp_as_of / timestampAsOf): resolved at
      * run time to the latest commit at-or-before this timestamp via the
      * `._commit_ts` sidecar, then replayed like [[versionAsOf]]. */
    timestampAsOf: Option[String] = None,
    /** CDF bounds on a readChangeFeed load, version or timestamp spelling
      * (mutually exclusive per bound, parse-enforced). All four resolve and
      * validate TOGETHER at run time — timestamps via the `._commit_ts`
      * sidecar (earliest at-or-after / latest at-or-before), then
      * start ≤ end is checked loudly before any filter applies. */
    cdfStartingVersion: Option[Long] = None,
    cdfEndingVersion: Option[Long] = None,
    cdfStartingTimestamp: Option[String] = None,
    cdfEndingTimestamp: Option[String] = None,
    /** Delta's skipChangeCommits on a STREAM read: consume only blind-append
      * commits, dropping rows from merge-rewrite commits (GDPR updates,
      * CDC corrections). Emulated by streaming the `__changes` companion
      * filtered on the `._commit_kinds` sidecar — a file stream over the
      * table directory itself would re-read rewritten files wholesale. */
    skipChangeCommits: Boolean = false,
    /** Delta's ignoreDeletes on a STREAM read: skipChangeCommits' narrower
      * sibling — tolerate commits that ONLY delete rows (retention, GDPR
      * erasure) by dropping them, but still fail loudly on update/rewrite
      * commits (which would need skipChangeCommits). Emulated on the same
      * `._commit_kinds` sidecar: a merge commit whose batch carried nothing
      * but apply_as_deletes rows is recorded as kind `delete`. */
    ignoreDeletes: Boolean = false,
    /** Delta's maxFilesPerTrigger rate limit on a STREAM read — passed to
      * Spark's file-stream source verbatim (same option, same semantics). */
    maxFilesPerTrigger: Option[Int] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def sources: Seq[String] = Seq(table)
  def hasCdfBounds: Boolean = cdfStartingVersion.isDefined || cdfEndingVersion.isDefined ||
    cdfStartingTimestamp.isDefined || cdfEndingTimestamp.isDefined
}

/** Named view defined by a SQL query. */
final case class SqlLoad(
    name: String,
    target: Option[String],
    sql: String,
    readMode: String = "batch",
    /** Load the SQL text from a project-relative file instead (sql_path). */
    sqlPath: Option[String] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def sources: Seq[String] = Nil // dependencies resolved from SQL at plan time
}

/** JDBC external read. */
final case class JdbcLoad(
    name: String,
    target: Option[String],
    url: String,
    query: Option[String],
    dbtable: Option[String],
    options: Map[String, String] = Map.empty,
    readMode: String = "batch",
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def sources: Seq[String] = Nil
}

/** Kafka stream read. */
final case class KafkaLoad(
    name: String,
    target: Option[String],
    bootstrapServers: String,
    subscribe: Option[String] = None,
    subscribePattern: Option[String] = None,
    assign: Option[String] = None,
    options: Map[String, String] = Map.empty,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def readMode: String = "stream"
  def sources: Seq[String] = Nil
}

/** Custom DataSource V2 read: a classpath TableProvider referenced by class
  * name (the reference's custom_datasource load —
  * generators/load/custom_datasource.py). */
final case class CustomSourceLoad(
    name: String,
    target: Option[String],
    providerClass: String,
    options: Map[String, String] = Map.empty,
    readMode: String = "batch",
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def sources: Seq[String] = Nil
}

/** Plugin source: a registered Scala function producing a DataFrame
  * (the python-function load). */
final case class FunctionLoad(
    name: String,
    target: Option[String],
    functionClass: String,
    parameters: Map[String, Any] = Map.empty,
    readMode: String = "batch",
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends LoadAction {
  def sources: Seq[String] = Nil
}

// --------------------------------------------------------------- transforms

final case class SqlTransform(
    name: String,
    target: Option[String],
    source: Seq[String],
    sql: String,
    /** Load the SQL text from a project-relative file instead (sql_path). */
    sqlPath: Option[String] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def sources: Seq[String] = source
}

final case class SchemaTransformAction(
    name: String,
    target: Option[String],
    source: String,
    renames: Map[String, String] = Map.empty,
    casts: Map[String, String] = Map.empty,
    declared: Seq[String] = Nil,
    strict: Boolean = false,
    /** External schema-transform file (reference schema_file — arrow or
      * legacy format), resolved project-relative at RUN time like
      * expectations_file; exclusive with inline definitions. */
    schemaFile: Option[String] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def sources: Seq[String] = Seq(source)
}

final case class DataQualityTransform(
    name: String,
    target: Option[String],
    source: String,
    rules: Seq[graft.operators.Expectations.Rule],
    quarantineTable: Option[String] = None,
    /** DLQ tagging identity (reference QuarantineConfig.source_table): the
      * fully qualified source-table name stamped into quarantined rows'
      * content-hash key; defaults to the source view name. */
    quarantineSourceTable: Option[String] = None,
    /** Load rules from a project-relative JSON/YAML file (expectations_file). */
    expectationsFile: Option[String] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def sources: Seq[String] = Seq(source)
}

/** Materialize an intermediate as a temp table (spill/share point). */
final case class TempTableTransform(
    name: String,
    target: Option[String],
    source: String,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def sources: Seq[String] = Seq(source)
}

/** Declare an event-time watermark on a streaming view
  * (`transform_type: watermark` + `column`/`delay`): downstream consumers
  * see `withWatermark(column, delay)` — the declaration that unlocks
  * append-mode windowed aggregation, bounded-state dedup, and
  * STREAM-STREAM JOINS (each side watermarked, a time-range join
  * condition bounding the state horizon). A pure plan annotation — zero
  * data movement; the DLT-Python counterpart is calling `withWatermark`
  * inside a @dlt view function. */
final case class WatermarkTransform(
    name: String,
    target: Option[String],
    source: String,
    column: String,
    delay: String,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def sources: Seq[String] = Seq(source)
}

/** Plugin transform over 1..N source views. */
final case class FunctionTransform(
    name: String,
    target: Option[String],
    source: Seq[String],
    functionClass: String,
    parameters: Map[String, Any] = Map.empty,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def sources: Seq[String] = source
}

// ------------------------------------------------------------------- writes

final case class CdcConfig(
    keys: Seq[String],
    sequenceBy: Seq[String],
    scdType: Int = 1,
    ignoreNullUpdates: Boolean = false,
    applyAsDeletes: Option[String] = None,
    applyAsTruncates: Option[String] = None,
    columnList: Option[Seq[String]] = None,
    exceptColumnList: Seq[String] = Nil,
    trackHistoryColumnList: Option[Seq[String]] = None,
    trackHistoryExceptColumnList: Seq[String] = Nil)

sealed trait WriteAction extends Action {
  def table: String
  def target: Option[String] = None
}

/** Streaming table: standard append flows, CDC mode, or snapshot-CDC mode. */
final case class StreamingTableWrite(
    name: String,
    source: String,
    table: String,
    partitionColumns: Seq[String] = Nil,
    once: Boolean = false,
    cdc: Option[CdcConfig] = None,
    /** Range-cluster data files on these columns at write time (parquet
      * min/max stats become tight → scan-time data skipping; the
      * cluster_columns counterpart for a parquet warehouse). */
    clusterColumns: Seq[String] = Nil,
    /** "range" (lexicographic, default) or "zorder" (bit-interleaved
      * multi-dimensional locality — every cluster column skips, not just
      * the first). */
    clusterStrategy: String = "range",
    snapshotCdc: Boolean = false,
    /** Snapshot-polling source: a [[graft.exec.SnapshotFunction]] class name
      * (the reference's snapshot_cdc_config.source_function — DLT's
      * `next_snapshot_and_version` contract). */
    snapshotFunction: Option[String] = None,
    /** Maintain an append-only `<table>__changes` companion table — the
      * parquet emulation of Delta Change Data Feed (SURVEY §7.3b). */
    changeLog: Boolean = false,
    /** SQL predicate applied to rows before write (DLT row_filter). */
    rowFilter: Option[String] = None,
    tableProperties: Map[String, String] = Map.empty,
    /** Table comment — persisted in the TableStore sidecar, surfaced by
      * `ShowProject <warehouse> tables` (reference WriteTarget.comment). */
    comment: Option[String] = None,
    /** Governance tags (reference WriteTarget.tags — UC tagging); persisted
      * in a sidecar and emitted through [[graft.exec.PipelineHooks]]
      * `onTableTagged` (the uc_tagging hook seam). */
    tags: Map[String, String] = Map.empty,
    /** Unified schema/tags file reference (reference tags_file) — parsed at
      * run time, merged under explicit `tags` (explicit wins). */
    tagsFile: Option[String] = None,
    /** Declared DDL schema enforced at write time (reference table_schema):
      * outgoing rows are projected/cast to exactly these columns. */
    tableSchemaDdl: Option[String] = None,
    expectations: Seq[graft.operators.Expectations.Rule] = Nil,
    /** Ingest-time dedup with BOUNDED state (`dedup: {keys, column,
      * within}`): at-least-once sources (redeliveries, overlapping
      * backfills) dedup by key against streaming state that Spark evicts
      * once event time passes `column`'s watermark + `within` — state
      * holds only the horizon's keys, never history (the 100 TB posture;
      * duplicates separated by MORE than the horizon both survive, the
      * documented trade). Standard append flows only: CDC flows already
      * dedup by (key, sequence) inside the merge, and the unbounded-state
      * alternative is the dedup-bearing incremental MV, whose state is the
      * table itself. */
    dedupKeys: Seq[String] = Nil,
    dedupColumn: Option[String] = None,
    dedupWithin: Option[String] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends WriteAction {
  def sources: Seq[String] = Seq(source)
}

/** Batch-refreshed materialized view (full refresh per run — DLT's
  * incremental MV maintenance is proprietary; SURVEY §7.3d). */
final case class MaterializedViewWrite(
    name: String,
    source: Option[String],
    table: String,
    sql: Option[String] = None,
    /** Load the SQL text from a project-relative file instead (sql_path). */
    sqlPath: Option[String] = None,
    partitionColumns: Seq[String] = Nil,
    rowFilter: Option[String] = None,
    tableProperties: Map[String, String] = Map.empty,
    /** See [[StreamingTableWrite.comment]] / `tags` / `tagsFile` /
      * `tableSchemaDdl` — same semantics for materialized views. */
    comment: Option[String] = None,
    tags: Map[String, String] = Map.empty,
    tagsFile: Option[String] = None,
    tableSchemaDdl: Option[String] = None,
    expectations: Seq[graft.operators.Expectations.Rule] = Nil,
    /** Range-cluster data files on these columns at write time. */
    clusterColumns: Seq[String] = Nil,
    /** "range" (default) or "zorder" — see [[StreamingTableWrite]]. */
    clusterStrategy: String = "range",
    /** Incremental maintenance: the view is a streaming aggregation whose
      * state lives in the checkpoint — each run reads only NEW source data
      * and merges partial aggregates, instead of a full recompute. */
    incremental: Boolean = false,
    /** Declared-incremental JOIN maintenance (`mode: incremental_join`) —
      * the engine's stand-in for the dominant case of DLT Enzyme
      * (proprietary; reference generators/write/materialized_view.py:21
      * always full-refreshes through DLT). The user declares the split the
      * optimizer cannot be trusted to infer:
      *   - [[joinedSql]]: the stream-static join stage, with exactly the
      *     fact side under `stream(...)`. Each refresh joins only NEW fact
      *     rows against current dims and accumulates them exactly-once
      *     into the `<table>__joined` companion — the 100 TB join never
      *     re-runs over history.
      *   - [[sql]]: the aggregation stage, reading the companion by its
      *     `<table>__joined` name. Recomputed per refresh over pre-joined
      *     rows, which keeps EXACT distinct aggregates (the shape that
      *     rules out streaming complete-mode aggregation). */
    incrementalJoin: Boolean = false,
    joinedSql: Option[String] = None,
    /** Declared event-time watermark (`watermark: {column, delay[, view]}`,
      * only with `mode: incremental`): the referenced streaming view gets
      * `withWatermark(column, delay)` BEFORE this MV's sql builds its
      * aggregation, and maintenance switches from complete-mode replace to
      * APPEND-mode — each run appends only windows the watermark has
      * finalized, so state is bounded by the open-window count instead of
      * every window ever (the 100 TB posture for time-windowed MVs). The
      * table then holds finalized windows only; late rows beyond the delay
      * are dropped by construction. The sql must group by `window(...)` /
      * `session_window(...)` on the watermarked column. */
    watermarkColumn: Option[String] = None,
    watermarkDelay: Option[String] = None,
    /** Which streaming view carries the watermark. Optional when the sql
      * references exactly one registered streaming view. */
    watermarkView: Option[String] = None,
    /** Partition-scoped recompute (`mode: incremental_recompute` +
      * `recompute: {keys: [...], view: <streaming view>}`) — the fifth
      * declared-incremental MV shape, covering OVER-clause window
      * functions that complete/append streaming maintenance cannot
      * express. The user declares:
      *   - [[recomputeKeys]]: the isolation keys. The MV's (BATCH) sql
      *     must be key-local: every OVER clause PARTITION BY and every
      *     GROUP BY must include all keys, so rows of different key
      *     values never interact and the MV rows for key k are a pure
      *     function of the base rows with key k (audited on the analyzed
      *     plan; violations refuse with ACT-011).
      *   - [[recomputeView]]: where the NEW rows that define which keys
      *     changed come from. Name the BASE TABLE itself (recommended):
      *     the delta then streams the base's own files, so a key is
      *     flagged iff its rows are already IN the base. Naming a
      *     streaming VIEW is supported for bases the engine does not
      *     manage, with a caveat: the view shares the source with the
      *     base write through two independent checkpoints, so a file
      *     landing between the base stream finishing and the delta
      *     stream starting is consumed against a base that lacks its
      *     rows, and those keys stay stale until re-touched.
      * Each refresh recomputes ONLY the affected keys' partitions from
      * the current base (the key filter is a broadcast semi-join that
      * Catalyst pushes below the window to the scan) and swaps them in
      * atomically; untouched partitions are never read or rewritten.
      * Crash replays are self-healing: recompute from the current base is
      * idempotent. At 100 TB the keys must be of bounded cardinality
      * (tenant, region, date bucket — e.g. a derived `user_id % 1024`
      * column), because each distinct value is one physical partition;
      * per-run cost is O(data under affected keys), not O(base). */
    incrementalRecompute: Boolean = false,
    /** Empty keys + `mode: incremental_recompute` selects the GLOBAL-
      * window route: `rank()/dense_rank()/row_number() OVER (ORDER BY ...)`
      * with an empty PARTITION BY (the leaderboard MV). The engine range-
      * buckets the base on the first ORDER BY column (boundaries frozen
      * at first materialization, [[recomputeBuckets]] of them), computes
      * each window per bucket, and prefix-merges local ranks into global
      * ones via a per-bucket row/distinct-count summary — parallel
      * per-bucket sorts, never Spark's single-task empty-partition
      * window. A delta landing in bucket m rewrites only buckets sorting
      * at-or-after m; earlier buckets' ranks are provably unchanged and
      * their partitions stay byte-identical. The MV table gains a
      * trailing `__gw_bucket` int column — the physical replace
      * granularity, same contract as the recompute keys in the keyed
      * form. */
    recomputeKeys: Seq[String] = Nil,
    recomputeView: Option[String] = None,
    /** Range-bucket count for the global-window route (frozen into the
      * boundaries at first materialization; changing it later has no
      * effect until a full refresh re-derives them). Size so one bucket's
      * rows sort comfortably in one task: ~data volume / 256 MB. */
    recomputeBuckets: Int = 64,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends WriteAction {
  def sources: Seq[String] = source.toSeq
}

/** External sink: kafka / foreachBatch handler / files. */
final case class SinkWrite(
    name: String,
    source: String,
    sinkType: String, // "files" | "kafka" | "foreachbatch"
    options: Map[String, String] = Map.empty,
    handlerClass: Option[String] = None,
    /** Sink identity override (reference WriteTarget.sink_name — the
      * dp.create_sink name): used for the checkpoint path and the files
      * sink's default output directory; defaults to the action name. */
    sinkName: Option[String] = None,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends WriteAction {
  def table: String = name
  /** The effective sink identity. */
  def sinkId: String = sinkName.getOrElse(name)
  def sources: Seq[String] = Seq(source)
}

// -------------------------------------------------------------------- tests

final case class TestAction(
    name: String,
    testType: String,
    source: Seq[String],
    config: Map[String, Any] = Map.empty,
    operationalMetadata: Option[OpMeta] = None,
    dependsOn: Seq[String] = Nil) extends Action {
  def target: Option[String] = None
  def sources: Seq[String] = source
}
