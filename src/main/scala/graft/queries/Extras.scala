package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Sampling
import graft.multimodal.Multimodal
import graft.sources.Tables

/** Driver-gate visibility for operators whose outputs are engine-specific
  * (hash-based sampling, stub-decoded multimodal features) — rows-only
  * checks, deterministic across runs. */
object Extras {

  /** Where e1 publishes its raw event-log dump for the DuckDB oracle.
    * User-qualified: the oracle SQL is a static string, so the path cannot
    * be run-derived, but qualifying by user keeps one user's stale or
    * permission-locked /tmp directory from poisoning another's compare.
    * The query and the oracle SQL both interpolate THIS constant, so they
    * can never drift apart. */
  private[queries] val e1LogDumpPath: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_e1_logs_${
      sys.props.getOrElse("user.name", "anon")}"

  /** Intra-JVM half of the e1 publish serialization (see the publish
    * block); the `.lock` file is the cross-process half. */
  private[queries] val e1PublishMonitor = new Object

  /** One temp workspace per gate invocation, deleted at JVM exit — gate
    * queries run many times per session (Verify, Bench passes, the eager
    * SparkEntrySpec sweep) and several materialize orders-sized tables, so
    * never-cleaned /tmp dirs add up on a long-lived host. */
  private val gateDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = gateDirs.iterator()
      while (it.hasNext) graft.exec.Fs.deleteRecursively(new java.io.File(it.next()))
    }))
  }
  private[queries] def gateDir(prefix: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(prefix).toString
    gateDirs.add(wh)
    wh
  }
  /** The standard gate preamble: temp warehouse + checkpointed runner.
    * Timed as gate lifecycle — temp-dir creation and store/runner
    * construction are scaffolding every composition gate pays before any
    * plan executes (usually ms; visible only when /tmp is slow). */
  private def gateRunner(s: SparkSession, prefix: String)
      : (graft.exec.TableStore, graft.exec.PipelineRunner, String) =
    graft.tools.GateLifecycle.timed {
      val wh = gateDir(prefix)
      val store = new graft.exec.TableStore(s, s"$wh/wh")
      (store, new graft.exec.PipelineRunner(s, store, s"$wh/cp"), wh)
    }

  // NOTE: a per-gate-confs variant of gateRunner (isolated newSession
  // sizing the stateful gates' shuffle partitions DOWN to 8) was tried
  // and REVERTED twice over: the isolated 3-iter comparison looked
  // favorable, but the rigorous 9-iter A/B on q62 (this host, matched
  // conditions) went the OTHER way — median 5.63 s at 8 partitions vs
  // 3.66 s at the session's 32; at sf0.1 the join work outweighs
  // state-store commit churn, so lower parallelism loses. The branch
  // itself was then dropped as dead code: newSession does NOT inherit
  // temp views, so a caller mixing it with the temp-view gates would
  // break on first use — reintroduce it together with its first real
  // caller and a spec. Production pipelines size state partitions via
  // pipeline_config `configuration`, which RunProject applies.

  /** Gate-fixture staging, memoized per key: fixtures that are pure
    * functions of the sf directory (landing file SETS, seeded JDBC
    * databases) build ONCE per session; each gate invocation then pays
    * only native file copies (milliseconds) instead of re-running the
    * Spark write jobs that produce them. The timed region of an ingest
    * gate becomes the ingest pipeline itself — the ScaleProbe hoisting
    * precedent applied to the bench gates (r11 verdict item 3). The gate
    * PROTOCOL is unchanged: every invocation still sees a fresh landing
    * dir growing across runs, a fresh warehouse, a fresh checkpoint. */
  // memoized through a LAZY HOLDER, not by building inside computeIfAbsent:
  // the build is a multi-second Spark write job, and running it under the
  // CHM bin lock serializes unrelated same-bin fixture builds AND throws
  // ConcurrentHashMap's recursive-update IllegalStateException the moment
  // one build transitively calls another memoized helper. computeIfAbsent
  // now only allocates the holder (fast); the lazy val's own monitor gives
  // the same build-once / block-other-callers guarantee per key.
  private final class FixtureHolder(build: String => Unit) {
    lazy val dir: String = { val d = gateDir("graft-fixture"); build(d); d }
  }
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[String, FixtureHolder]()
  private def fixtureOnce(key: String)(build: String => Unit): String =
    fixtures.computeIfAbsent(key, _ => new FixtureHolder(build)).dir

  /** Copy one staged TABLE from a staged warehouse into a gate's fresh
    * warehouse: the table directory tree plus its sibling sidecar files
    * (`<table>._schema` etc. live BESIDE the dir, TableStore's layout). */
  private def copyTableDir(fromWh: String, toWh: String, table: String): Unit = {
    val src = java.nio.file.Paths.get(fromWh)
    val dst = java.nio.file.Paths.get(toWh)
    java.nio.file.Files.createDirectories(dst)
    val walk = java.nio.file.Files.walk(src.resolve(table))
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t): Unit
    } finally walk.close()
    val listing = java.nio.file.Files.list(src)
    try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith(s"$table._"))
      .foreach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))): Unit)
    finally listing.close()
  }

  /** Copy a staged file set's data files into a landing dir, basenames
    * prefixed per set — two sets staged by identical writer plans would
    * otherwise collide on deterministic part-file names. */
  // private[queries]: CrawlKillMatrixSpec stages the same landing-file
  // convention — one copy, or the marker-file filters drift apart
  private[queries] def copyFixture(from: String, to: String, prefix: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    val listing = java.nio.file.Files.list(src)
    try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      })
      .foreach(p => java.nio.file.Files.copy(
        p, dst.resolve(s"$prefix${p.getFileName}")))
    finally listing.close()
  }

  /** Multimodal pipeline: text bytes → media table → batched stub decode →
    * per-mime feature summary. Deterministic (content-hash stub decoder). */
  def m1Multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromText(Tables.load(s, dir, "documents"), "doc_id", "text", "image/fake")
    Multimodal.extractFeatures(media)
      .select("media_id", "n_bytes", "width", "height", "channels", "sha_prefix")
  }

  /** Deterministic 10% hash sample of documents, portable mode: the md5
    * bucket is re-derivable by any md5-capable engine (and the oracle). */
  def m2Sample(s: SparkSession, dir: String): DataFrame =
    Sampling.byHash(Tables.load(s, dir, "documents"), "doc_id", 0.1, portable = true)
      .select("doc_id", "lang", "n_chars")

  /** Stratified mix: all English + 20% of the rest, tagged. */
  def m3StratifiedMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    Sampling.stratified(docs, "doc_id", "lang", Map("en" -> 1.0), default = 0.2,
      portable = true)
      .select("doc_id", "lang")
  }

  /** Water-filling mixture plan over the documents corpus: per-source
    * token counts, rule-derived weights (1 + source# % 3 — columnar, no
    * driver-side source list), budget = 80% of the corpus (computed as
    * exact integer arithmetic so the oracle rebuilds it bit-for-bit).
    * Scarce high-weight sources cap at rate 1 and their shortfall
    * redistributes — the oracle recomputes the whole closed form
    * (prefix-sum water level) in DuckDB; every arithmetic input is an
    * exact integer-valued double, so λ and the targets match exactly. */
  def m9MixtureRates(s: SparkSession, dir: String): DataFrame = {
    // cached: the per-source table is tiny (one row per source) but its
    // LINEAGE is a full documents scan + aggregation, and BOTH the budget
    // collect below and the returned mixtureRates plan read it — uncached,
    // every gate invocation scanned documents twice for one result
    val counts = Tables.load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(expr("CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)")
        .as("n_tokens"))
      .withColumn("weight", expr("1.0 + CAST(substring(source, 4) AS INT) % 3"))
      .cache()
    // one-row aggregate collect: budget is a CONFIG-scale scalar (the same
    // class as the partition-value metadata collects the anti-pattern
    // sweep allows); integer ×4/5 floor-division reproduces exactly in SQL.
    // sum over ZERO rows is NULL — name the empty-fixture assumption
    // instead of unboxing an NPE
    val totRow = counts.agg(sum(col("n_tokens"))).head
    require(!totRow.isNullAt(0),
      s"m9 needs a non-empty documents table in $dir — was the fixture " +
        "regenerated empty?")
    val totN = totRow.getLong(0)
    graft.dedup.Sampling.mixtureRates(counts, "source", "n_tokens", "weight",
      totN * 4 / 5)
  }

  /** Anti-domination cap: at most 10 docs per source, chosen by portable
    * md5 hash order — deterministic, partitioning-independent, and
    * re-derivable by the oracle. */
  def m4DomainCap(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(Tables.load(s, dir, "documents"),
      "doc_id", "source", k = 10, portable = true)
      .select("doc_id", "source", "lang")

  /** Schema evolution through the store: a table written narrow
    * (c_custkey, c_name) then appended WIDE (+c_acctbal) reads back with the
    * widened schema, old rows null — the TableStore schema-sidecar semantics
    * (Delta mergeSchema add-column analogue), pinned by the DuckDB oracle's
    * union_by_name-equivalent reconstruction. */
  def q32SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val wh = gateDir("graft-q32")
    val store = new graft.exec.TableStore(s, s"$wh/wh")
    val customer = Tables.load(s, dir, "customer")
    store.overwrite("cust_evo",
      customer.filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_name"))
    store.append("cust_evo",
      customer.filter(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_name", "c_acctbal"))
    store.read("cust_evo")
  }

  /** Two-batch CDC flowgroup YAML shared by the CDF family (q33/q46/q47):
    * ONE copy of the cdc_config contract (the no-drifting-copies rule) —
    * editing the delete predicate or sequence column edits all three
    * gates together, as their docstrings assume. */
  private def cdcTwoBatchYaml(pipeline: String, table: String, view: String): String =
    s"""pipeline: $pipeline
       |flowgroup: f
       |actions:
       |  - name: l
       |    type: load
       |    source: {type: table, table: $view}
       |    target: v
       |  - name: w
       |    type: write
       |    source: v
       |    write_target: {type: streaming_table, table: $table, change_log: true}
       |    cdc_config: {keys: [user_id], sequence_by: event_id, scd_type: 1,
       |                 apply_as_deletes: "event_type = 'error'"}
       |""".stripMargin

  /** Register the two parity batch views under INVOCATION-UNIQUE names and
    * run them through the shared CDC yaml: session temp views are global,
    * so fixed names (q33_b1...) raced under parallel gate execution — one
    * invocation's createOrReplaceTempView could land between a sibling's
    * view definition and its run, feeding it the wrong batch. */
  private val gateViewNonce = new java.util.concurrent.atomic.AtomicLong(0L)
  private def runCdcTwoBatches(runner: graft.exec.PipelineRunner,
      ev: org.apache.spark.sql.DataFrame, pipeline: String, table: String): Unit = {
    val nonce = gateViewNonce.incrementAndGet()
    val (b1, b2) = (s"${pipeline}_b1_$nonce", s"${pipeline}_b2_$nonce")
    ev.filter(col("event_id") % 2 === 0).createOrReplaceTempView(b1)
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView(b2)
    try {
      runner.run(graft.config.YamlConfig.parseFlowGroup(cdcTwoBatchYaml(pipeline, table, b1)))
      runner.run(graft.config.YamlConfig.parseFlowGroup(cdcTwoBatchYaml(pipeline, table, b2)))
    } finally {
      ev.sparkSession.catalog.dropTempView(b1): Unit
      ev.sparkSession.catalog.dropTempView(b2): Unit
    }
  }

  /** CDF emulation through the gate: two CDC batches (split by event_id
    * parity) merge into a change_log table; the `__changes` companion must
    * equal the DuckDB reconstruction — every change row with its
    * _change_type (delete predicate) and _commit_version (batch index). */
  def q33ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q33")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    runCdcTwoBatches(runner, ev, "q33", "q33_dim")
    store.read("q33_dim__changes")
  }

  /** Bounded CDF window (q33's sibling): the same two CDC batches, read back
    * through the YAML surface — `options: {readChangeFeed, startingVersion,
    * endingVersion}` routing to the `__changes` companion with
    * `_commit_version` range predicates. Window [1,1] = exactly batch 2. */
  def q46CdfWindow(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q46")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    runCdcTwoBatches(runner, ev, "q46", "q46_dim")
    runner.execute(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: q46r
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: delta, table: q46_dim,
         |             options: {readChangeFeed: "true",
         |                       startingVersion: "1", endingVersion: "1"}}
         |    target: q46_win
         |""".stripMargin).actions.head)
    runner.view("q46_win")
  }

  /** Time travel by change-log replay (q46's sibling): the same two CDC
    * batches, then `version_as_of: 0` — the table state AFTER batch 1 but
    * BEFORE batch 2, reconstructed from the `__changes` companion (latest
    * change per key at v ≤ 0, deletes dropped). */
  def q47TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q47")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    runCdcTwoBatches(runner, ev, "q47", "q47_dim")
    runner.execute(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: q47r
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: delta, table: q47_dim, version_as_of: 0}
         |    target: q47_tt
         |""".stripMargin).actions.head)
    runner.view("q47_tt")
  }

  /** The observability plane through the gate: two pipelines run with the
    * engine's event-log hooks, the monitoring pipeline unions their logs
    * (one checkpointed AvailableNow stream per source, exactly-once
    * batch-directory placement) and refreshes a rollup MV over the union.
    * The oracle recomputes the same (pipeline, event_type, count) rollup
    * in DuckDB from the RAW per-pipeline logs (dumped to a fixed path) —
    * so a monitoring-union replay/duplication bug inflates the Spark side
    * only and hash-mismatches. */
  def e1MonitoringRollup(s: SparkSession, dir: String): DataFrame = {
    val wh = gateDir("graft-e1")
    val store = new graft.exec.TableStore(s, s"$wh/wh")
    val hooks = new graft.exec.EventLog.Writer(s, store)
    val runner = new graft.exec.PipelineRunner(s, store, s"$wh/cp", hooks = hooks)
    Tables.load(s, dir, "nation").createOrReplaceTempView("e1_nation")
    Tables.load(s, dir, "region").createOrReplaceTempView("e1_region")
    def fg(pipeline: String, flowgroup: String, writes: Seq[(String, String)]) =
      graft.config.YamlConfig.parseFlowGroup(
        s"""pipeline: $pipeline
           |flowgroup: $flowgroup
           |actions:
           |${writes.zipWithIndex.map { case ((view, out), i) =>
              s"""  - name: l$i
                 |    type: load
                 |    source: {type: table, table: $view}
                 |    target: v$i
                 |  - name: w$i
                 |    type: write
                 |    source: v$i
                 |    write_target: {type: streaming_table, table: $out}""".stripMargin
            }.mkString("\n")}
           |""".stripMargin)
    // p1: one flowgroup writing two tables; p2: two flowgroups, one table
    // each — so the logs differ in both event counts and append batches
    runner.run(fg("e1p1", "g1", Seq("e1_nation" -> "e1_out_a", "e1_region" -> "e1_out_b")))
    runner.run(fg("e1p2", "g1", Seq("e1_nation" -> "e1_out_c")))
    runner.run(fg("e1p2", "g2", Seq("e1_region" -> "e1_out_d")))
    graft.streaming.Monitoring.runPipeline(s, store,
      Map("e1p1" -> hooks.tableFor("e1p1"), "e1p2" -> hooks.tableFor("e1p2")),
      streamingTable = "e1_union",
      mvs = Seq(graft.streaming.Monitoring.MvDef("e1_rollup", Some(
        """SELECT _pipeline AS pipeline, event_type, count(*) AS n
          |FROM e1_union GROUP BY _pipeline, event_type""".stripMargin), None)),
      checkpointRoot = s"$wh/moncp")
    // dump the RAW logs at the fixed path the DuckDB oracle reads (the SQL
    // is a static string dumped before the compare, so the path must be
    // knowable without the run — user-qualified so another user's stale
    // /tmp dir can never be read or block the rename). Built in a fresh
    // staging sibling and swapped in via delete+rename: the published glob
    // never sees a half-written directory, and stale subdirectories from
    // older runs (which would silently inflate the oracle's counts) cannot
    // survive the swap. The delete+rename pair is serialized under an
    // exclusive file lock so two concurrent gate runs cannot interleave it;
    // the oracle compare itself still assumes the driver's serial
    // run-then-compare flow (concurrent runs publish last-writer-wins).
    val fixed = new java.io.File(Extras.e1LogDumpPath)
    val staging = new java.io.File(
      s"${Extras.e1LogDumpPath}.staging.${java.util.UUID.randomUUID()}")
    var keepStaging = false
    try {
      Seq("e1p1", "e1p2").foreach { p =>
        store.read(hooks.tableFor(p)).write.mode("overwrite")
          .parquet(s"${staging.getPath}/$p")
      }
      // cross-PROCESS serialization via the file lock, cross-THREAD via the
      // JVM monitor around it — FileChannel.lock throws
      // OverlappingFileLockException for a second lock attempt in the same
      // JVM, so the monitor must come first (parallel suites, two gate
      // queries in one driver)
      Extras.e1PublishMonitor.synchronized {
        val lockCh = java.nio.channels.FileChannel.open(
          new java.io.File(s"${Extras.e1LogDumpPath}.lock").toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val lock = lockCh.lock()
        try {
          graft.exec.Fs.deleteRecursively(fixed)
          if (!staging.renameTo(fixed)) {
            // the fixed dir is already gone — staging is the ONLY copy of
            // the dump now; keep it (the exception names the path) instead
            // of destroying both sides
            keepStaging = true
            throw new IllegalStateException(
              s"e1: could not publish ${staging.getPath} at ${fixed.getPath}")
          }
        } finally { lock.release(); lockCh.close() }
      }
    } finally
      // a failed dump must not leak the staging dir in /tmp
      if (!keepStaging && staging.exists())
        graft.exec.Fs.deleteRecursively(staging)
    store.read("e1_rollup")
  }

  /** skipChangeCommits through the gate: two blind-append commits, then a
    * CDC merge commit (a rewrite), into one change-logged table; a
    * skipChangeCommits STREAM of the table must serve exactly the append
    * commits' rows — not the merged state (which a naive file stream over
    * the rewritten directory would re-read), not the merge's change rows. */
  def q48SkipChangeCommits(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q48")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def yamlFor(view: String, cdc: String) =
      s"""pipeline: q48
         |flowgroup: f_$view
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: q48_t, change_log: true}
         |$cdc""".stripMargin
    ev.filter(col("event_id") % 3 === 0).createOrReplaceTempView("q48_b1")
    ev.filter(col("event_id") % 3 === 1).createOrReplaceTempView("q48_b2")
    ev.filter(col("event_id") % 3 === 2).createOrReplaceTempView("q48_b3")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q48_b1", "")))
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q48_b2", "")))
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q48_b3",
      """    cdc_config: {keys: [user_id], sequence_by: event_id, scd_type: 1}
        |""".stripMargin)))
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: q48r
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    readMode: stream
         |    source: {type: delta, table: q48_t,
         |             options: {skipChangeCommits: "true"}}
         |    target: v_appends
         |  - name: w
         |    type: write
         |    source: v_appends
         |    write_target: {type: streaming_table, table: q48_out}
         |""".stripMargin))
    store.read("q48_out")
  }

  /** SCD2 time travel through the gate (q47's type-2 sibling): two SCD2
    * batches (split by event_id parity) merge into a change-logged table,
    * then `version_as_of: 0` replays the HISTORY as of batch 1 — per-user
    * version chains from even events only, consecutive duplicate tracked
    * values collapsed, `__end_at` = next surviving version's start. */
  def q49Scd2TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q49")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def yamlFor(view: String) =
      s"""pipeline: q49
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: q49_dim, change_log: true}
         |    cdc_config: {keys: [user_id], sequence_by: event_id, scd_type: 2}
         |""".stripMargin
    ev.filter(col("event_id") % 2 === 0).createOrReplaceTempView("q49_b1")
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("q49_b2")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q49_b1")))
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q49_b2")))
    runner.execute(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: q49r
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: delta, table: q49_dim, version_as_of: 0}
         |    target: q49_tt
         |""".stripMargin).actions.head)
    runner.view("q49_tt")
  }

  /** ignoreDeletes through the gate (q48's narrower sibling): an append
    * commit, then a delete-ONLY merge commit (every batch row matches the
    * apply_as_deletes predicate — recorded as commit kind `delete`); an
    * ignoreDeletes STREAM of the table must serve exactly the append
    * commit's rows, excusing the delete commit rather than failing on it. */
  def q50IgnoreDeletes(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q50")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def yamlFor(view: String, cdc: String) =
      s"""pipeline: q50
         |flowgroup: f_$view
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: q50_t, change_log: true}
         |$cdc""".stripMargin
    ev.filter(col("event_id") % 2 === 0).createOrReplaceTempView("q50_b1")
    ev.filter(col("event_id") % 2 === 1 && col("event_type") === "error")
      .createOrReplaceTempView("q50_b2")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q50_b1", "")))
    runner.run(graft.config.YamlConfig.parseFlowGroup(yamlFor("q50_b2",
      """    cdc_config: {keys: [user_id], sequence_by: event_id, scd_type: 1,
        |                 apply_as_deletes: "event_type = 'error'"}
        |""".stripMargin)))
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: q50r
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    readMode: stream
         |    source: {type: delta, table: q50_t,
         |             options: {ignoreDeletes: "true"}}
         |    target: v_live
         |  - name: w
         |    type: write
         |    source: v_live
         |    write_target: {type: streaming_table, table: q50_out}
         |""".stripMargin))
    store.read("q50_out")
  }

  /** The cloudfiles streaming ingest path itself through the gate — the
    * reference's single most-used load operator
    * (generators/load/cloudfiles.py:20). Three checkpointed AvailableNow
    * runs of one cloudfiles→streaming_table flow over a growing landing
    * directory: batch 1 (even keys), batch 2 (odd keys), then a run with NO
    * new files. The oracle is the whole customer table, so the hash pins
    * exactly-once incremental ingest three ways: a re-read of batch 1 on
    * run 2, a re-read of anything on run 3, or a missed file all
    * hash-mismatch. */
  def c1CloudfilesIngest(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c1")
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: c1
         |flowgroup: ingest
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE"
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: c1_t}
         |""".stripMargin
    // landing file sets staged once per sfDir (fixture, not measured work);
    // each invocation native-copies them into ITS fresh landing dir at the
    // same protocol points as before
    val fixture = fixtureOnce(s"c1|$dir") { root =>
      cust.filter(col("c_custkey") % 2 === 0).write.parquet(s"$root/even")
      cust.filter(col("c_custkey") % 2 === 1).write.parquet(s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    // no new files: a correct checkpoint makes this run a no-op
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("c1_t").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
  }

  /** The cloudfiles AVRO ingest path through the gate — the last reference
    * autoloader format that was a named error (no spark-avro connector in
    * the deployment jars; sources/AvroBridge.scala reads container files
    * through binaryFile + the serde jar). Same three-run growing-landing
    * shape as c1, but the landing files are Avro containers written by the
    * bridge's own writer, so the hash also pins the encode side: a value
    * mangled on either leg of the avro round trip, a re-read batch, or a
    * skipped file all mismatch the raw customer oracle. */
  def c2AvroIngest(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c2")
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: c2
         |flowgroup: ingest
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: avro
         |      readMode: stream
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: c2_t}
         |""".stripMargin
    // avro container sets staged once per sfDir (the encode leg still runs
    // through AvroBridge.write — once; its round-trip fidelity stays pinned
    // by the hash oracle since the landed bytes ARE the staged bytes)
    val fixture = fixtureOnce(s"c2|$dir") { root =>
      graft.sources.AvroBridge.write(cust.filter(col("c_custkey") % 2 === 0), s"$root/even")
      graft.sources.AvroBridge.write(cust.filter(col("c_custkey") % 2 === 1), s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    // no new files: a correct checkpoint makes this run a no-op
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("c2_t").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
  }

  /** The jdbc load operator through the gate — previously spec-only
    * (embedded-Derby E2E in SourcesSpec; reference: generators/load/
    * jdbc.py:13). The supplier table round-trips through a real JDBC
    * database (Derby, which ships in the Spark jars): Spark's jdbc writer
    * lands it, the runner's `type: jdbc` load reads it back with a
    * pushdown-shaped `query`, and the hash is checked against the raw
    * parquet — any type mangling across the JDBC boundary (DOUBLE/CLOB/
    * BIGINT round trips) or a dropped row mismatches. */
  def c3JdbcIngest(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c3")
    // the Derby database is seeded ONCE per sfDir (fixture staging — the
    // measured operator is the engine's jdbc LOAD, not Spark's jdbc writer);
    // every invocation reads the same seeded db through a fresh runner
    val dbDir = fixtureOnce(s"c3|$dir") { root =>
      Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .write.format("jdbc")
        .option("url", s"jdbc:derby:$root/db;create=true")
        .option("dbtable", "SUPP").mode("overwrite").save()
    }
    val url = s"jdbc:derby:$dbDir/db"
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: c3
         |flowgroup: ingest
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: jdbc
         |      url: "$url"
         |      query: 'SELECT * FROM SUPP'
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: materialized_view, table: c3_t}
         |""".stripMargin))
    val out = store.read("c3_t")
    // Derby folds unquoted identifiers to upper case on the plain-SQL read
    // path; normalize to the parquet spelling for the column-name compare
    out.select(out.columns.toSeq.map(c => col(s"`$c`").as(c.toLowerCase)): _*)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
  }

  /** The function-plugin load AND transform operators through the gate —
    * previously spec-only (reference: generators/load/python.py:12,
    * generators/transform/python.py:14). A `type: python` load resolves
    * `graft.plugins.ParquetTableSource` reflectively, a `type: python`
    * transform applies `NetRevenueTransform` (net_price = o_totalprice ×
    * (1 − rate)), and the result is hash-checked against a DuckDB
    * recompute — a plugin dispatched to the wrong class, a dropped
    * parameter, or a skipped transform all mismatch. */
  def c4FunctionPipeline(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c4")
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: c4
         |flowgroup: fn
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: python
         |      function: graft.plugins.ParquetTableSource
         |      parameters: {path: "$dir/orders.parquet"}
         |    target: v_orders
         |  - name: t
         |    type: transform
         |    transform_type: python
         |    source: v_orders
         |    function: graft.plugins.NetRevenueTransform
         |    parameters: {rate: 0.1}
         |    target: v_net
         |  - name: w
         |    type: write
         |    source: v_net
         |    write_target: {type: materialized_view, table: c4_t}
         |""".stripMargin))
    store.read("c4_t").select("o_orderkey", "o_totalprice", "net_price")
  }

  /** The custom_datasource (DataSource V2) load through the gate —
    * previously spec-only (reference: generators/load/custom_datasource.py:
    * register class, then `spark.read.format(name)`). The engine's demo
    * DSv2 provider generates deterministic rows partition-locally, so the
    * DuckDB oracle recomputes the exact output from `range()` — a dropped
    * `rows` option (the provider would default to 1000), a boundary
    * row lost between partition splits, or a mangled row mismatches.
    * (The `partitions` option is content-invariant by design — the sorted
    * compare cannot pin it; SourcesSpec covers the split plumbing.) */
  def c5CustomSource(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c5")
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: c5
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: custom_datasource
         |      custom_datasource_class: graft.sources.v2.SyntheticSource
         |      options: {rows: 5000, partitions: 8}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: materialized_view, table: c5_t}
         |""".stripMargin))
    store.read("c5_t").select("id", "bucket", "payload")
  }

  /** The temp_table transform through the gate — previously spec-only.
    * temp_table MATERIALIZES its input into the store mid-pipeline (the
    * reference's spark.write staging step); a downstream SQL transform
    * aggregates over the materialized view. The oracle recomputes the
    * aggregate from raw orders, so a row lost or duplicated by the
    * materialize-and-reread hop mismatches. */
  def c6TempTable(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c6")
    Tables.load(s, dir, "orders").createOrReplaceTempView("c6_src")
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: c6
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: c6_src}
         |    target: v_raw
         |  - name: t_mat
         |    type: transform
         |    transform_type: temp_table
         |    source: v_raw
         |    target: v_tmp
         |  - name: t_agg
         |    type: transform
         |    transform_type: sql
         |    sql: >
         |      SELECT o_orderstatus,
         |             CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |      FROM v_tmp GROUP BY o_orderstatus
         |    target: v_agg
         |  - name: w
         |    type: write
         |    source: v_agg
         |    write_target: {type: materialized_view, table: c6_t}
         |""".stripMargin))
    store.read("c6_t")
  }

  /** The files sink through the gate — previously spec-only. The pipeline
    * lands a projection of orders as parquet under the sink path; the gate
    * reads the landed files back, so a sink that drops rows, writes a
    * wrong schema, or mangles values mismatches the raw-table oracle. */
  def c7FilesSink(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c7")
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("c7_src")
    val out = s"$wh/landed"
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      s"""pipeline: c7
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: c7_src}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target:
         |      type: sink
         |      sink_type: files
         |      options: {path: "$out", format: parquet}
         |""".stripMargin))
    s.read.parquet(out)
  }

  /** The flagship LLM-curation pipeline through the gate — the full
    * quality → exact-dedup → near-dup-cluster → decontaminate → sample
    * chain as ONE YAML flowgroup over the function-plugin seam
    * (CurationE2ESpec's shape, portable sampling so DuckDB can replay the
    * kept set). The oracle re-derives every stage: the t2 quality
    * predicate, md5 keeper selection, the exact-Jaccard pair graph +
    * recursive-CTE components (minHashLsh's verified pairs equal the
    * exact result at this threshold/banding — the d3 oracle argument),
    * 5-gram probe decontamination, and the md5-bucket sample. A doc
    * wrongly kept or dropped at ANY stage hash-mismatches. */
  def c8CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c8")
    Tables.load(s, dir, "documents").createOrReplaceTempView("c8_documents_raw")
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      """pipeline: c8
        |flowgroup: corpus_v1
        |actions:
        |  - name: load_corpus
        |    type: load
        |    source: {type: sql, sql: "SELECT doc_id, text FROM c8_documents_raw WHERE doc_id >= 20"}
        |    target: v_corpus
        |  - name: load_benchmark
        |    type: load
        |    source: {type: sql, sql: "SELECT doc_id, text FROM c8_documents_raw WHERE doc_id < 20"}
        |    target: v_benchmark
        |  - name: quality
        |    type: transform
        |    transform_type: python
        |    function: graft.plugins.CurationTransforms$QualityFilter
        |    source: v_corpus
        |    target: v_quality
        |  - name: exact_dedup
        |    type: transform
        |    transform_type: python
        |    function: graft.plugins.CurationTransforms$ExactDedupFilter
        |    source: v_quality
        |    target: v_exact
        |  - name: near_dedup
        |    type: transform
        |    transform_type: python
        |    function: graft.plugins.CurationTransforms$NearDupFilter
        |    source: v_exact
        |    target: v_neardup
        |    parameters: {threshold: "0.6"}
        |  - name: decontaminate
        |    type: transform
        |    transform_type: python
        |    function: graft.plugins.CurationTransforms$Decontaminate
        |    source: [v_neardup, v_benchmark]
        |    target: v_clean
        |    parameters: {ngram: "5"}
        |  - name: sample
        |    type: transform
        |    transform_type: python
        |    function: graft.plugins.CurationTransforms$HashSample
        |    source: v_clean
        |    target: v_sampled
        |    parameters: {fraction: "0.5", portable: "true"}
        |  - name: write
        |    type: write
        |    source: v_sampled
        |    write_target: {type: materialized_view, table: c8_t}
        |""".stripMargin))
    store.read("c8_t").select("doc_id", "text")
  }

  /** Compaction/clustering through the gate: a 64-way-fragmented table is
    * OPTIMIZE'd (z-order on two columns) and must read back with EXACTLY
    * the raw table's content — the invariant that makes maintenance safe
    * to run is that it moves bytes, never changes them. File-count
    * reduction and clustering quality are MaintainSpec's job; this gate
    * pins content invariance under the DuckDB hash. */
  def c9Compaction(s: SparkSession, dir: String): DataFrame = {
    val wh = gateDir("graft-c9")
    val store = new graft.exec.TableStore(s, s"$wh/wh")
    // the 64-way-fragmented table is FIXTURE (compact input), staged once
    // per sfDir; each invocation native-copies the table dir + sidecars
    // into ITS fresh warehouse (compact mutates, so every run needs its
    // own copy) — the measured work is the OPTIMIZE itself
    val fixture = fixtureOnce(s"c9|$dir") { root =>
      new graft.exec.TableStore(s, s"$root/wh").overwrite("c9_t",
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .repartition(64))
    }
    copyTableDir(s"$fixture/wh", s"$wh/wh", "c9_t")
    store.compact("c9_t", targetBytesPerFile = 128L * 1024 * 1024,
      sortBy = Seq("o_custkey", "o_orderkey"), strategy = "zorder")
    store.read("c9_t")
  }

  /** Sandboxed run through the gate: the same pipeline executed under a
    * [[graft.config.Sandbox.Run]] nameMap must land its table under the
    * namespaced PHYSICAL name (asserted loudly in-gate — a missing
    * prefixed directory errors the query) while logical reads and content
    * stay identical — the oracle pins the content against the raw
    * projection, so a nameMap that corrupts, doubles, or drops rows
    * mismatches. */
  def c11SandboxedRun(s: SparkSession, dir: String): DataFrame = {
    val wh = gateDir("graft-c11")
    val run = graft.config.Sandbox.Run(
      namespace = "dev_alice", tablePattern = "{namespace}_{table}",
      strategy = "table", pipelines = Seq("c11"))
    val store = new graft.exec.TableStore(s, s"$wh/wh", nameMap = run.nameMap)
    val runner = new graft.exec.PipelineRunner(s, store, s"$wh/cp")
    Tables.load(s, dir, "nation").createOrReplaceTempView("c11_src")
    runner.run(graft.config.YamlConfig.parseFlowGroup(
      """pipeline: c11
        |flowgroup: f
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: c11_src}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target: {type: materialized_view, table: c11_t}
        |""".stripMargin))
    val physical = new java.io.File(s"$wh/wh/dev_alice_c11_t")
    if (!physical.isDirectory)
      throw new IllegalStateException(
        s"sandbox nameMap did not namespace the physical table: $physical missing")
    // and the UN-namespaced location must stay empty — a double-write (or
    // a map applied on reads only) would leak into the shared name, the
    // exact pollution sandboxing exists to prevent
    val leaked = new java.io.File(s"$wh/wh/c11_t")
    if (leaked.exists)
      throw new IllegalStateException(
        s"sandboxed run leaked the un-namespaced table: $leaked exists")
    store.read("c11_t") // logical name resolves through the same map
  }

  /** Orchestration through the gate: a three-flowgroup bronze → silver →
    * gold medallion passed to the orchestrator DELIBERATELY SHUFFLED — the
    * cross-flowgroup dependency graph (table refs extracted from the SQL)
    * must generation-order them, or silver/gold read missing tables and
    * the run errors; a survived-but-misordered run would aggregate stale
    * emptiness and hash-mismatch the oracle's direct recompute. */
  def c10OrchestratedMedallion(s: SparkSession, dir: String): DataFrame = {
    val wh = gateDir("graft-c10")
    val store = new graft.exec.TableStore(s, s"$wh/wh")
    val orch = new graft.exec.PipelineOrchestrator(s, store, s"$wh/ocp")
    // the runner registers written tables as SESSION temp views; a stale
    // c10_bronze/c10_silver from a previous invocation would let a
    // MIS-ORDERED orchestration resolve its upstream tables anyway and
    // hash-match on identical fixture content — exactly the regression
    // this gate exists to catch. Drop them so misordering fails loudly.
    Seq("c10_bronze", "c10_silver", "c10_gold")
      .foreach(v => s.catalog.dropTempView(v))
    Tables.load(s, dir, "orders").createOrReplaceTempView("c10_orders_raw")
    Tables.load(s, dir, "customer").createOrReplaceTempView("c10_customer_raw")
    def fg(yaml: String) = graft.config.YamlConfig.parseFlowGroup(yaml)
    val bronze = fg(
      """pipeline: c10
        |flowgroup: bronze
        |actions:
        |  - name: mv
        |    type: write
        |    write_target: {type: materialized_view, table: c10_bronze}
        |    sql: |
        |      SELECT o_orderkey, o_custkey, o_totalprice FROM c10_orders_raw
        |""".stripMargin)
    val silver = fg(
      """pipeline: c10
        |flowgroup: silver
        |actions:
        |  - name: mv
        |    type: write
        |    write_target: {type: materialized_view, table: c10_silver}
        |    sql: |
        |      SELECT b.o_orderkey, b.o_totalprice, c.c_nationkey
        |      FROM c10_bronze b JOIN c10_customer_raw c
        |        ON b.o_custkey = c.c_custkey
        |""".stripMargin)
    val gold = fg(
      """pipeline: c10
        |flowgroup: gold
        |actions:
        |  - name: mv
        |    type: write
        |    write_target: {type: materialized_view, table: c10_gold}
        |    sql: |
        |      SELECT c_nationkey,
        |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |             count(*) AS n_orders
        |      FROM c10_silver GROUP BY c_nationkey
        |""".stripMargin)
    val outcomes = orch.run(Seq(gold, bronze, silver)) // shuffled on purpose
    outcomes.find(_.error.isDefined).foreach(o => throw o.error.get)
    store.read("c10_gold")
  }

  /** Declared-incremental join MV through the gate — the acmi gold-layer
    * revenue_by_region shape (Example_Projects/acmi/SQL/gld/
    * revenue_by_region_mv.sql:8-27): a fact stream joined to three dims
    * with SUM + exact COUNT(DISTINCT) aggregates. Two fact batches refresh
    * the MV through `mode: incremental_join`; the oracle recomputes the
    * whole thing from the raw tables in DuckDB, so a re-joined, skipped,
    * or double-counted fact row hash-mismatches. */
  def q55IncrementalJoinMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q55")
    val ord = Tables.load(s, dir, "orders")
    Tables.load(s, dir, "customer").createOrReplaceTempView("q55_customer")
    Tables.load(s, dir, "nation").createOrReplaceTempView("q55_nation")
    Tables.load(s, dir, "region").createOrReplaceTempView("q55_region")
    // the src view is REDEFINED between the two runs (odd batch replaces
    // even) — unlike the dimension views above (idempotent content, safe
    // to race), a fixed name here lets a parallel sibling invocation's
    // redefinition land between this one's view and its run, feeding it
    // the wrong batch; the name is invocation-unique
    val srcView = s"q55_src_${gateViewNonce.incrementAndGet()}"
    val factYaml =
      s"""pipeline: q55
        |flowgroup: fact
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: $srcView}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target: {type: streaming_table, table: q55_fact}
        |""".stripMargin
    val mvYaml =
      """pipeline: q55
        |flowgroup: gold
        |actions:
        |  - name: mv
        |    type: write
        |    write_target:
        |      type: materialized_view
        |      table: q55_mv
        |      mode: incremental_join
        |      joined_sql: >
        |        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderdate,
        |               r.r_name
        |        FROM stream(q55_fact) o
        |        JOIN q55_customer c ON o.o_custkey = c.c_custkey
        |        JOIN q55_nation n ON c.c_nationkey = n.n_nationkey
        |        JOIN q55_region r ON n.n_regionkey = r.r_regionkey
        |      sql: >
        |        SELECT r_name,
        |               CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |        FROM q55_mv__joined
        |        GROUP BY r_name, CAST(date_trunc('month', o_orderdate) AS DATE)
        |""".stripMargin
    ord.filter(col("o_orderkey") % 2 === 0).createOrReplaceTempView(srcView)
    runner.run(graft.config.YamlConfig.parseFlowGroup(factYaml))
    runner.run(graft.config.YamlConfig.parseFlowGroup(mvYaml))
    ord.filter(col("o_orderkey") % 2 === 1).createOrReplaceTempView(srcView)
    runner.run(graft.config.YamlConfig.parseFlowGroup(factYaml))
    runner.run(graft.config.YamlConfig.parseFlowGroup(mvYaml))
    s.catalog.dropTempView(srcView): Unit
    store.read("q55_mv")
  }

  /** Watermarked windowed MV through the gate (`mode: incremental` +
    * `watermark`) — the third declared-incremental MV shape: daily
    * aggregates over the events stream maintained in APPEND mode, state
    * bounded by the open-window count. Two event batches drive two runs;
    * each run's trailing no-data microbatch applies the advanced
    * watermark, so the final table holds exactly the windows with
    * end <= max(ts) - delay over ALL events — batching-independent, which
    * is what the DuckDB oracle recomputes (a re-emitted, skipped, or
    * late-dropped window hash-mismatches). Batches are staged as single
    * files so no window can finalize while later rows of it are still
    * unread within a run. */
  def q58WindowedMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q58")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q58
         |flowgroup: wmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "ts TIMESTAMP, event_type STRING, value DOUBLE"
         |    target: q58_v
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT window.start AS day,
         |             CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         |             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks
         |      FROM q58_v GROUP BY window(ts, '1 day')
         |    write_target:
         |      type: materialized_view
         |      table: q58_mv
         |      mode: incremental
         |      watermark: {column: ts, delay: "1 hour"}
         |""".stripMargin
    val fixture = fixtureOnce(s"q58|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      ev.filter(col("ts") < lit("2024-01-20").cast("timestamp"))
        .repartition(1).write.parquet(s"$root/a")
      ev.filter(col("ts") >= lit("2024-01-20").cast("timestamp"))
        .repartition(1).write.parquet(s"$root/b")
    }
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q58_mv")
  }

  /** Session-window MV through the watermarked incremental path —
    * streaming sessionization made declarative: per-user sessions merge
    * across runs in checkpointed state and emit exactly once when the
    * watermark passes their end. The fixture splits events by TIME (not
    * id), so run 2's rows are never late and the one cross-boundary case
    * that matters — a session straddling the split, whose state must merge
    * batch-B events into batch-A state before emission — is exercised by
    * construction. The oracle recomputes sessions from all events
    * (gaps-and-islands, the q42 formulation) and keeps those with
    * end <= max(ts) - delay: a split, double-emitted, or
    * dropped-at-the-boundary session hash-mismatches. */
  def q60SessionMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q60")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q60
         |flowgroup: smv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
         |    target: q60_v
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT user_id,
         |             session_window.start AS session_start,
         |             session_window.end AS session_end,
         |             CAST(count(*) AS BIGINT) AS n_events,
         |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         |      FROM q60_v GROUP BY user_id, session_window(ts, '30 minutes')
         |    write_target:
         |      type: materialized_view
         |      table: q60_mv
         |      mode: incremental
         |      watermark: {column: ts, delay: "1 hour"}
         |""".stripMargin
    val fixture = fixtureOnce(s"q60|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
      ev.filter(col("ts") < lit("2024-01-20").cast("timestamp"))
        .repartition(1).write.parquet(s"$root/a")
      ev.filter(col("ts") >= lit("2024-01-20").cast("timestamp"))
        .repartition(1).write.parquet(s"$root/b")
    }
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q60_mv")
  }

  /** Dedup-bearing MV through the gate — the fourth declared-incremental
    * MV shape: a top-level SELECT DISTINCT maintained by per-batch
    * anti-join append (the MV table IS the dedup state). The projection
    * includes a CASE-produced NULL column, so a non-null-safe anti-join
    * would re-append every null-keyed row on the second run and
    * hash-mismatch the DISTINCT oracle. */
  def q59DedupMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q59")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q59
         |flowgroup: dmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, user_id BIGINT, event_type STRING"
         |    target: q59_v
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT DISTINCT event_type,
         |             CASE WHEN user_id % 7 = 0 THEN CAST(NULL AS BIGINT)
         |                  ELSE user_id % 50 END AS ub
         |      FROM q59_v
         |    write_target: {type: materialized_view, table: q59_mv, mode: incremental}
         |""".stripMargin
    val fixture = fixtureOnce(s"q59|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      ev.filter(col("event_id") % 2 === 0).write.parquet(s"$root/even")
      ev.filter(col("event_id") % 2 === 1).write.parquet(s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q59_mv")
  }

  /** Ingest-time bounded-state dedup through the gate (`dedup: {keys,
    * column, within}` on a streaming_table): the fixture duplicates every
    * fifth event (exact copies) and splits the corpus by id parity into
    * two runs, so the table is exactly-one-row-per-event only if BOTH
    * in-batch dedup and checkpointed cross-run state work. The horizon is
    * wider than the fixture's time span, so the DuckDB oracle is the plain
    * source table: a surviving duplicate OR a row dropped as late
    * hash-mismatches. Bounded-state eviction itself (duplicates beyond
    * the horizon both surviving) is the documented trade, spec-pinned. */
  def q61StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q61")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q61
         |flowgroup: sdd
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
         |    target: q61_v
         |  - name: w
         |    type: write
         |    source: q61_v
         |    write_target:
         |      type: streaming_table
         |      table: q61_t
         |      dedup: {keys: [event_id], column: ts, within: "3650 days"}
         |""".stripMargin
    val fixture = fixtureOnce(s"q61|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val dup = ev.unionByName(ev.filter(col("event_id") % 5 === 0))
      dup.filter(col("event_id") % 2 === 0).write.parquet(s"$root/even")
      dup.filter(col("event_id") % 2 === 1).write.parquet(s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q61_t")
  }

  /** Stream-stream join through the gate: a watermark transform annotates
    * the event stream, a SQL transform self-joins clicks to purchases per
    * user within 30 minutes (the time-range condition that bounds join
    * state), and the match stream appends to a streaming table. The
    * fixture splits events by id parity into two runs, so pairs whose
    * sides arrive in DIFFERENT runs only emit if the checkpointed join
    * state holds across runs; the horizon exceeds the fixture span, so
    * the DuckDB oracle is the plain batch join — a dropped cross-run
    * match, a duplicate emission, or a late-dropped row hash-mismatches.
    * Bounded-state eviction is the spec-pinned trade, as with q61. */
  def q62StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q62")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q62
         |flowgroup: ssj
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING"
         |    target: q62_v
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: q62_v
         |    target: q62_w
         |    column: ts
         |    delay: "3650 days"
         |  - name: j
         |    type: transform
         |    transform_type: sql
         |    source: q62_w
         |    target: q62_j
         |    sql: >
         |      SELECT a.event_id AS click_id, b.event_id AS purchase_id,
         |             a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
         |      FROM q62_w a JOIN q62_w b
         |        ON a.user_id = b.user_id
         |       AND a.event_type = 'click' AND b.event_type = 'purchase'
         |       AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTE
         |  - name: w
         |    type: write
         |    source: q62_j
         |    write_target: {type: streaming_table, table: q62_t}
         |""".stripMargin
    val fixture = fixtureOnce(s"q62|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .filter(col("event_type").isin("click", "purchase"))
      ev.filter(col("event_id") % 2 === 0).write.parquet(s"$root/even")
      ev.filter(col("event_id") % 2 === 1).write.parquet(s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q62_t")
  }

  /** Stream-stream join as DIRECT MV maintenance (`mode: incremental`) —
    * the r12 decision-table refusal folded into the engine: the same
    * watermarked click→purchase self-join as q62 runs as append-mode MV
    * maintenance with NO streaming_table detour. Two runs split the events
    * by event-id parity, so cross-run pairs (click lands in run 1, its
    * purchase in run 2) emit only if the checkpointed join state survives
    * runs; a replayed batch's duplicate or a lost cross-boundary match
    * hash-mismatches against the oracle's one-shot batch join. */
  def q65StreamStreamMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q65")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q65
         |flowgroup: ssmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING"
         |    target: q65_v
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: q65_v
         |    target: q65_w
         |    column: ts
         |    delay: "3650 days"
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT a.event_id AS click_id, b.event_id AS purchase_id,
         |             a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
         |      FROM q65_w a JOIN q65_w b
         |        ON a.user_id = b.user_id
         |       AND a.event_type = 'click' AND b.event_type = 'purchase'
         |       AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTE
         |    write_target:
         |      type: materialized_view
         |      table: q65_t
         |      mode: incremental
         |""".stripMargin
    val fixture = fixtureOnce(s"q65|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .filter(col("event_type").isin("click", "purchase"))
      ev.filter(col("event_id") % 2 === 0).write.parquet(s"$root/even")
      ev.filter(col("event_id") % 2 === 1).write.parquet(s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q65_t")
  }

  /** OVER-window MV through the gate (`mode: incremental_recompute`) — the
    * fifth declared-incremental MV shape: per-user ranked/running window
    * functions maintained by partition-scoped recompute. A bronze
    * streaming_table accumulates the events; the MV's batch sql ranks them
    * with OVER (PARTITION BY ub, user_id ...) where `ub = user_id % 50` is
    * the bounded-cardinality recompute key. Run 2's delta touches ONLY
    * ub < 10 (by construction), so the final table is correct only if
    * (a) the touched buckets were recomputed over run-1 AND run-2 base
    * rows together (a delta-only recompute would restart ranks), and
    * (b) the 40 untouched buckets' partitions survived run 2 untouched
    * (RecomputeMvSpec pins physically-untouched via file mtimes; here a
    * clobbered or dropped partition hash-mismatches). The DuckDB oracle
    * recomputes the windows over all events in one shot. */
  def q63RecomputeMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q63")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q63
         |flowgroup: rmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
         |    target: q63_v
         |  - name: t
         |    type: transform
         |    transform_type: sql
         |    source: q63_v
         |    target: q63_e
         |    sql: >
         |      SELECT event_id, ts, user_id, value,
         |             CAST(user_id % 50 AS BIGINT) AS ub
         |      FROM q63_v
         |  - name: w_base
         |    type: write
         |    source: q63_e
         |    write_target: {type: streaming_table, table: q63_base}
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT ub, user_id, event_id, ts,
         |             CAST(row_number() OVER
         |               (PARTITION BY ub, user_id ORDER BY ts, event_id)
         |               AS BIGINT) AS rn,
         |             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER
         |               (PARTITION BY ub, user_id ORDER BY ts, event_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |               AS DOUBLE) AS running_value
         |      FROM q63_base
         |    write_target:
         |      type: materialized_view
         |      table: q63_mv
         |      mode: incremental_recompute
         |      recompute: {keys: [ub], view: q63_base}
         |""".stripMargin
    val fixture = fixtureOnce(s"q63|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      // run 2 = a delta touching only buckets 0..9, and only PART of those
      // users' events — their earlier rows land in run 1, so the recompute
      // must rank run-1 + run-2 base rows together
      val late = col("user_id") % 50 < 10 && col("event_id") % 3 === 0
      ev.filter(!late).repartition(1).write.parquet(s"$root/a")
      ev.filter(late).repartition(1).write.parquet(s"$root/b")
    }
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q63_mv")
  }

  /** GLOBAL-window MV through the gate (q66, `mode: incremental_recompute`
    * with NO keys) — the leaderboard shape: rank()/dense_rank() over the
    * WHOLE base (empty PARTITION BY), the last ACT-011 full-refresh
    * residue. The engine range-buckets the base on the order column
    * (boundaries frozen at run 1), ranks each bucket locally in parallel,
    * and prefix-merges with per-bucket counts from the `gwmeta` sidecar.
    * Run 2's delta lands ONLY at the BOTTOM of the DESC order (value <
    * 10), so the refresh rewrites just the tail buckets — and the tail's
    * global ranks are correct only if the untouched head buckets' stored
    * counts fed the prefix offsets exactly (a stale or recomputed-wrong
    * count shifts every tail rank → hash mismatch). `vb = floor(value)`
    * gives real tie groups, so rank vs dense_rank divergence is also
    * pinned. The DuckDB oracle ranks all events in one shot. */
  def q66GlobalWindowMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q66")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q66
         |flowgroup: gwmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
         |    target: q66_v
         |  - name: t
         |    type: transform
         |    transform_type: sql
         |    source: q66_v
         |    target: q66_e
         |    sql: >
         |      SELECT event_id, user_id, value,
         |             CAST(floor(value) AS BIGINT) AS vb
         |      FROM q66_v
         |  - name: w_base
         |    type: write
         |    source: q66_e
         |    write_target: {type: streaming_table, table: q66_base}
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT event_id, user_id, vb,
         |             CAST(rank() OVER (ORDER BY vb DESC NULLS LAST) AS INT) AS rnk,
         |             CAST(dense_rank() OVER (ORDER BY vb DESC NULLS LAST) AS INT) AS drk,
         |             percent_rank() OVER (ORDER BY vb DESC NULLS LAST) AS prnk,
         |             cume_dist() OVER (ORDER BY vb DESC NULLS LAST) AS cdist
         |      FROM q66_base
         |    write_target:
         |      type: materialized_view
         |      table: q66_mv
         |      mode: incremental_recompute
         |      recompute: {view: q66_base, buckets: 8}
         |""".stripMargin
    val fixture = fixtureOnce(s"q66|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      // run 2 = the bottom of the DESC leaderboard only: head buckets'
      // partitions stay untouched and the refresh must trust their
      // sidecar counts for the tail's prefix offsets
      val late = col("value") < 10
      ev.filter(!late).repartition(1).write.parquet(s"$root/a")
      ev.filter(late).repartition(1).write.parquet(s"$root/b")
    }
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    // __gw_bucket is the physical maintenance granularity, not query
    // output — boundaries are sampled, so no oracle can recompute it
    store.read("q66_mv")
      .select("event_id", "user_id", "vb", "rnk", "drk", "prnk", "cdist")
  }

  /** Computed-ORDER-BY global-window MV through the gate (q67) — the real
    * leaderboard shape: rank by an EXPRESSION (`floor(value)*3 + user_id%5`,
    * the stand-in for `score * decay(ts)`), which the route buckets on the
    * analyzer's synthetic sort projection and re-evaluates on the delta's
    * own columns to locate touched buckets. The gwmeta signature freezes
    * the INLINED expression (not the positional `_w0` token), so an edited
    * formula re-bootstraps instead of reusing stale counts. Run 2's delta
    * lands at the BOTTOM of the DESC order (value < 10 → key ≤ 31), so the
    * untouched head buckets' stored counts must feed the tail's prefix
    * offsets exactly; integer keys give real tie groups (rank vs
    * dense_rank divergence). One-shot DuckDB oracle ranks all events. */
  def q67GlobalWindowComputed(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q67")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q67
         |flowgroup: gwc
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
         |    target: q67_v
         |  - name: w_base
         |    type: write
         |    source: q67_v
         |    write_target: {type: streaming_table, table: q67_base}
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT event_id, user_id, value,
         |             CAST(rank() OVER
         |               (ORDER BY floor(value) * 3 + user_id % 5 DESC NULLS LAST)
         |               AS INT) AS rnk,
         |             CAST(dense_rank() OVER
         |               (ORDER BY floor(value) * 3 + user_id % 5 DESC NULLS LAST)
         |               AS INT) AS drk
         |      FROM q67_base
         |    write_target:
         |      type: materialized_view
         |      table: q67_mv
         |      mode: incremental_recompute
         |      recompute: {view: q67_base, buckets: 8}
         |""".stripMargin
    val fixture = fixtureOnce(s"q67|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val late = col("value") < 10
      ev.filter(!late).repartition(1).write.parquet(s"$root/a")
      ev.filter(late).repartition(1).write.parquet(s"$root/b")
    }
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q67_mv")
      .select("event_id", "user_id", "value", "rnk", "drk")
  }

  /** Nested-dedup MV through the recompute path (q64): an aggregation OVER
    * deduplicated rows — the shape the streaming decision table must
    * refuse (pulling the dedup out changes results; streaming it needs
    * data-sized state) but partition-scoped recompute legally maintains,
    * because under the key-locality audit the dedup+agg for bucket ub is a
    * pure function of base rows with that ub. The fixture injects exact
    * duplicates and splits them so a duplicate's two copies can land in
    * DIFFERENT runs: only a recompute that re-reads the bucket's FULL base
    * (not the delta) dedups them, and the one-shot DuckDB oracle
    * hash-mismatches any survivor. */
  def q64NestedDedupMv(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-q64")
    val landing = s"$wh/landing"
    val yaml =
      s"""pipeline: q64
         |flowgroup: nmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "event_id BIGINT, user_id BIGINT, event_type STRING"
         |    target: q64_v
         |  - name: t
         |    type: transform
         |    transform_type: sql
         |    source: q64_v
         |    target: q64_e
         |    sql: >
         |      SELECT event_id, user_id, event_type,
         |             CAST(user_id % 20 AS BIGINT) AS ub
         |      FROM q64_v
         |  - name: w_base
         |    type: write
         |    source: q64_e
         |    write_target: {type: streaming_table, table: q64_base}
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT ub, user_id, CAST(count(*) AS BIGINT) AS n_events,
         |             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
         |      FROM (SELECT DISTINCT ub, user_id, event_id, event_type
         |            FROM q64_base)
         |      GROUP BY ub, user_id
         |    write_target:
         |      type: materialized_view
         |      table: q64_mv
         |      mode: incremental_recompute
         |      recompute: {keys: [ub], view: q64_base}
         |""".stripMargin
    val fixture = fixtureOnce(s"q64|$dir") { root =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      // duplicates must STRADDLE the runs to prove base-wide dedup: run 1
      // = even ids PLUS a copy of the id%10==1 odds, run 2 = all odds —
      // every id%10==1 event arrives twice, once per run, and survives
      // exactly once only if the recompute dedups over the full base
      val crossDup = ev.filter(col("event_id") % 10 === 1)
      ev.filter(col("event_id") % 2 === 0).unionByName(crossDup)
        .repartition(1).write.parquet(s"$root/a")
      ev.filter(col("event_id") % 2 === 1).repartition(1).write.parquet(s"$root/b")
    }
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("q64_mv")
  }

  /** WARC ingestion gate (c12, the c2-avro pattern for Common Crawl's
    * format): customer rows round-trip through real `.warc.gz` archives —
    * WET-style "conversion" records, one gzip member per record — and a
    * two-run checkpointed cloudfiles stream (`format: warc`), then the
    * payload parses back to columns and must hash-match the plain table.
    * Serialization mangling (header/payload framing, gzip member
    * boundaries, CRLF discipline), replay, or a skipped file all
    * hash-mismatch. WarcSpec additionally pins the parser against
    * hand-authored golden bytes, independent of our writer. */
  def c12WarcIngest(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c12")
    val landing = s"$wh/landing"
    val fixture = fixtureOnce(s"c12|$dir") { root =>
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
      def recs(df: DataFrame): DataFrame = df.select(
        lit("conversion").as("warc_type"),
        concat(lit("<urn:uuid:cust-"), col("c_custkey"), lit(">")).as("record_id"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("warc_date"),
        concat(lit("http://example.com/cust/"), col("c_custkey")).as("target_uri"),
        lit("text/plain").as("content_type"),
        encode(concat_ws("|", col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal")), "UTF-8").as("payload"))
      graft.sources.WarcBridge.write(
        recs(c.filter(col("c_custkey") % 2 === 0)).repartition(2), s"$root/a")
      graft.sources.WarcBridge.write(
        recs(c.filter(col("c_custkey") % 2 === 1)).repartition(2), s"$root/b")
    }
    val yaml =
      s"""pipeline: c12
         |flowgroup: warc
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: warc
         |      readMode: stream
         |    target: c12_v
         |  - name: t
         |    type: transform
         |    transform_type: sql
         |    source: c12_v
         |    target: c12_parsed
         |    sql: >
         |      SELECT CAST(f[0] AS BIGINT) AS c_custkey, f[1] AS c_name,
         |             CAST(f[2] AS INT) AS c_nationkey,
         |             CAST(f[3] AS DOUBLE) AS c_acctbal
         |      FROM (SELECT split(decode(payload, 'UTF-8'), '\\\\|') AS f
         |            FROM c12_v)
         |  - name: w
         |    type: write
         |    source: c12_parsed
         |    write_target: {type: streaming_table, table: c12_t}
         |""".stripMargin
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("c12_t")
  }

  /** Web-curation capstone E2E (c13): the round's pieces composed into ONE
    * pipeline — WARC response archives of HTML pages → payload decode →
    * HtmlExtract plugin (t14's chain) → length filter → streaming table,
    * run twice over a split corpus with checkpoints. The DuckDB oracle
    * recomputes the whole chain from the raw documents table (the shared
    * shell-strip expression + the same filter), so a defect in ANY stage —
    * WARC framing, gzip members, payload decode, the strip chain, the
    * filter, exactly-once ingest — hash-mismatches. */
  def c13WebCuration(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c13")
    val landing = s"$wh/landing"
    val fixture = fixtureOnce(s"c13|$dir") { root =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      def recs(df: DataFrame): DataFrame = df.select(
        lit("response").as("warc_type"),
        concat(lit("<urn:doc-"), col("doc_id"), lit(">")).as("record_id"),
        lit("2024-02-01 00:00:00").cast("timestamp").as("warc_date"),
        concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
        lit("text/html").as("content_type"),
        encode(graft.queries.LlmData.htmlShellOf(col("text")), "UTF-8").as("payload"))
      graft.sources.WarcBridge.write(
        recs(d.filter(col("doc_id") % 2 === 0)).repartition(2), s"$root/a")
      graft.sources.WarcBridge.write(
        recs(d.filter(col("doc_id") % 2 === 1)).repartition(2), s"$root/b")
    }
    val yaml =
      s"""pipeline: c13
         |flowgroup: webcur
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: warc
         |      readMode: stream
         |    target: c13_v
         |  - name: t_decode
         |    type: transform
         |    transform_type: sql
         |    source: c13_v
         |    target: c13_html
         |    sql: >
         |      SELECT CAST(regexp_extract(record_id, '([0-9]+)', 1) AS BIGINT)
         |               AS doc_id,
         |             decode(payload, 'UTF-8') AS html
         |      FROM c13_v WHERE warc_type = 'response'
         |  - name: t_extract
         |    type: transform
         |    transform_type: python
         |    function: graft.plugins.CurationTransforms$$HtmlExtract
         |    source: c13_html
         |    target: c13_text
         |    parameters: {html_col: html, out_col: text}
         |  - name: t_filter
         |    type: transform
         |    transform_type: sql
         |    source: c13_text
         |    target: c13_kept
         |    sql: "SELECT doc_id, text FROM c13_text WHERE length(text) >= 200"
         |  - name: w
         |    type: write
         |    source: c13_kept
         |    write_target: {type: streaming_table, table: c13_t}
         |""".stripMargin
    copyFixture(s"$fixture/a", landing, "a-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    copyFixture(s"$fixture/b", landing, "b-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(yaml))
    store.read("c13_t")
  }

  /** Incremental-retrieval-index gate (c14): two checkpointed ingest
    * runs accumulate the corpus into a streaming table; after EACH run an
    * index flowgroup maintains a persisted BM25 index through the plugin
    * seam ([[graft.plugins.RetrievalTransforms.Bm25Maintain]]) — run 1
    * builds it from the even-id batch, run 2 folds in ONLY the odd-id
    * delta (one anti-join against the index's own doc-length table; the
    * indexed text is never re-read) — and answers the fixed query set
    * from the RELOADED index into a materialized view. The DuckDB oracle
    * recomputes BM25 over the FULL corpus in one shot (the s9 SQL), so a
    * missed delta, a double-fold on replay, or stale df/avgdl statistics
    * hash-mismatch: updateIndex must equal a fresh full build EXACTLY. */
  def c14IncrementalIndex(s: SparkSession, dir: String): DataFrame = {
    val (store, runner, wh) = gateRunner(s, "graft-c14")
    val landing = s"$wh/landing"
    val ingest =
      s"""pipeline: c14
         |flowgroup: ingest
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: parquet
         |      readMode: stream
         |      table_schema: "doc_id BIGINT, text STRING"
         |    target: c14_v
         |  - name: w
         |    type: write
         |    source: c14_v
         |    write_target: {type: streaming_table, table: c14_docs}
         |""".stripMargin
    val index =
      s"""pipeline: c14
         |flowgroup: index
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: c14_docs}
         |    target: v_all
         |  - name: q
         |    type: transform
         |    transform_type: sql
         |    source: v_all
         |    target: v_q
         |    sql: >
         |      SELECT doc_id AS qid,
         |             array_join(slice(split(text, ' '), 1, 8), ' ') AS qtext
         |      FROM v_all WHERE doc_id < 10
         |  - name: m
         |    type: transform
         |    transform_type: python
         |    function: graft.plugins.RetrievalTransforms$$Bm25Maintain
         |    source: [v_all, v_q]
         |    target: v_hits
         |    parameters: {index_path: "$wh/bm25ix", k: "5"}
         |  - name: w
         |    type: write
         |    source: v_hits
         |    write_target: {type: materialized_view, table: c14_t}
         |""".stripMargin
    val fixture = fixtureOnce(s"c14|$dir") { root =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      d.filter(col("doc_id") % 2 === 0).write.parquet(s"$root/even")
      d.filter(col("doc_id") % 2 === 1).write.parquet(s"$root/odd")
    }
    copyFixture(s"$fixture/even", landing, "even-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(ingest))
    runner.run(graft.config.YamlConfig.parseFlowGroup(index))
    copyFixture(s"$fixture/odd", landing, "odd-")
    runner.run(graft.config.YamlConfig.parseFlowGroup(ingest))
    runner.run(graft.config.YamlConfig.parseFlowGroup(index))
    store.read("c14_t")
  }

  /** Sustained-crawl capstone (c15): the full LLM-data path as ONE
    * orchestrated multi-pipeline project — WARC ingest → HTML curation →
    * incremental exact dedup (the dedup-MV route: per-batch anti-join,
    * the MV is the dedup state) → persisted-BM25 index maintenance →
    * token-budget mixture plan → a final gold join — run over TWO crawl
    * generations with a FORGED CRASH in the middle: generation 2 executes
    * in a child JVM that hard-halts (`Runtime.halt`, no cleanup) right
    * after the dedup MV commits, leaving the index/mix/final flowgroups
    * un-run; the parent then resumes the same project in-process.
    * Generation 2's shards deliberately RE-CRAWL a tenth of generation
    * 1's pages (same text, new record ids), so the dedup stage has real
    * cross-generation work. The DuckDB oracle recomputes the whole chain
    * from the raw documents table in one shot — a duplicate surviving the
    * crash boundary, a double-folded index delta, a stale mixture count,
    * or a lost/replayed row anywhere in the chain hash-mismatches. Every
    * piece is individually gated (c12/c13 ingest, d1/d8 dedup, c14 index,
    * m9 mixture); what c15 pins is their COMPOSITION under the
    * orchestrator's crash/resume with shared state. */
  /** WARC-wrapped crawl records of `(doc_id, text)` rows — one HTML shell
    * per doc, record ids namespaced by crawl generation. Shared by the
    * c15 fixture and the kill-matrix spec. */
  private[queries] def warcCrawlRecords(df: DataFrame, crawl: Int): DataFrame = df.select(
    lit("response").as("warc_type"),
    concat(lit(s"<urn:crawl$crawl-doc-"), col("doc_id"), lit(">")).as("record_id"),
    lit("2024-02-01 00:00:00").cast("timestamp").as("warc_date"),
    concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
    lit("text/html").as("content_type"),
    encode(graft.queries.LlmData.htmlShellOf(col("text")), "UTF-8").as("payload"))

  /** The five-flowgroup sustained-crawl chain (c15's project), built for
    * any landing/warehouse pair so the kill-point-matrix spec can run the
    * SAME chain with different halt triggers. `ingestSourceExtra` injects
    * additional cloudfiles source lines (e.g. a maxFilesPerTrigger rate
    * limit so a mid-ingest kill point has a between-batches window). */
  def c15Yamls(landing: String, wh: String,
      ingestSourceExtra: String = ""): Seq[(String, String)] = {
    val ingestYaml =
      s"""pipeline: crawl
         |flowgroup: ingest
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: warc
         |      readMode: stream$ingestSourceExtra
         |    target: c15_v
         |  - name: t_decode
         |    type: transform
         |    transform_type: sql
         |    source: c15_v
         |    target: c15_html
         |    sql: >
         |      SELECT record_id, decode(payload, 'UTF-8') AS html
         |      FROM c15_v WHERE warc_type = 'response'
         |  - name: t_extract
         |    type: transform
         |    transform_type: python
         |    function: graft.plugins.CurationTransforms$$HtmlExtract
         |    source: c15_html
         |    target: c15_text
         |    parameters: {html_col: html, out_col: text}
         |  - name: t_filter
         |    type: transform
         |    transform_type: sql
         |    source: c15_text
         |    target: c15_kept
         |    sql: "SELECT record_id, text FROM c15_text WHERE length(text) >= 200"
         |  - name: w
         |    type: write
         |    source: c15_kept
         |    write_target: {type: streaming_table, table: c15_raw}
         |""".stripMargin
    val dedupYaml =
      s"""pipeline: curate
         |flowgroup: dedup
         |actions:
         |  - name: mv
         |    type: write
         |    sql: "SELECT DISTINCT md5(text) AS fp, text FROM stream(c15_raw)"
         |    write_target:
         |      type: materialized_view
         |      table: c15_corpus
         |      mode: incremental
         |""".stripMargin
    val indexYaml =
      s"""pipeline: curate
         |flowgroup: index
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: c15_corpus}
         |    target: v_all
         |  - name: q
         |    type: transform
         |    transform_type: sql
         |    source: v_all
         |    target: v_q
         |    sql: >
         |      SELECT fp AS qid, array_join(slice(split(text, ' '), 1, 8), ' ')
         |               AS qtext
         |      FROM v_all WHERE fp LIKE '0%'
         |  - name: m
         |    type: transform
         |    transform_type: python
         |    function: graft.plugins.RetrievalTransforms$$Bm25Maintain
         |    source: [v_all, v_q]
         |    target: v_hits
         |    parameters: {index_path: "$wh/bm25ix", k: "5", id_col: fp}
         |  - name: w
         |    type: write
         |    source: v_hits
         |    write_target: {type: materialized_view, table: c15_hits}
         |""".stripMargin
    val mixYaml =
      s"""pipeline: mix
         |flowgroup: mix
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: c15_corpus}
         |    target: v_c
         |  - name: t
         |    type: transform
         |    transform_type: sql
         |    source: v_c
         |    target: v_counts
         |    sql: >
         |      SELECT CAST(least(length(text) div 400, 9) AS INT) AS bucket,
         |             CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
         |               AS BIGINT) AS n_tokens,
         |             CAST(1.0 + CAST(least(length(text) div 400, 9) AS INT) % 3
         |               AS DOUBLE) AS weight
         |      FROM v_c
         |      GROUP BY 1, 3
         |  - name: m
         |    type: transform
         |    transform_type: python
         |    function: graft.plugins.CurationTransforms$$MixtureRates
         |    source: v_counts
         |    target: v_mix
         |    parameters: {group_col: bucket, tokens_col: n_tokens, weight_col: weight}
         |  - name: w
         |    type: write
         |    source: v_mix
         |    write_target: {type: materialized_view, table: c15_mix}
         |""".stripMargin
    val finalYaml =
      s"""pipeline: mix
         |flowgroup: final
         |actions:
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT h.query_id AS qid, h.doc_id AS fp, h.rank, h.bm25,
         |             b.bucket, m.rate
         |      FROM c15_hits h
         |      JOIN (SELECT fp, CAST(least(length(text) div 400, 9) AS INT)
         |              AS bucket FROM c15_corpus) b ON h.doc_id = b.fp
         |      JOIN c15_mix m ON m.bucket = b.bucket
         |    write_target: {type: materialized_view, table: c15_final}
         |""".stripMargin
    Seq("1_ingest" -> ingestYaml, "2_dedup" -> dedupYaml, "3_index" -> indexYaml,
      "4_mix" -> mixYaml, "5_final" -> finalYaml)
  }

  def c15CrawlResume(s: SparkSession, dir: String): DataFrame = {
    val wh = gateDir("graft-c15")
    val store = new graft.exec.TableStore(s, s"$wh/wh")
    val landing = s"$wh/landing"
    val yamlDir = s"$wh/yaml"
    val yamls = c15Yamls(landing, wh)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(yamlDir))
    yamls.foreach { case (n, y) =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$yamlDir/$n.yaml"), y): Unit
    }
    val fgs = yamls.map(y => graft.config.YamlConfig.parseFlowGroup(y._2))
    val fixture = fixtureOnce(s"c15|$dir") { root =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.sources.WarcBridge.write(
        warcCrawlRecords(d.filter(col("doc_id") % 2 === 0), 1)
          .repartition(2), s"$root/a")
      // generation 2 = the odd pages PLUS a re-crawl of a tenth of
      // generation 1's (same text, new record ids — the dedup stage's
      // cross-generation work)
      graft.sources.WarcBridge.write(
        warcCrawlRecords(d.filter(col("doc_id") % 2 === 1), 2)
          .unionByName(warcCrawlRecords(d.filter(col("doc_id") % 10 === 0), 2))
          .repartition(2), s"$root/b")
    }
    def runInProcess(): Unit = {
      val orch = new graft.exec.PipelineOrchestrator(s, store, s"$wh/cp")
      val outcomes = orch.run(fgs)
      outcomes.find(_.error.isDefined).foreach(o => throw o.error.get)
    }
    // the crash-forge child JVM spawns EAGERLY (server mode): its JVM +
    // Spark-session boot proceeds concurrently with generation 1's
    // in-process run below, so only the generation-2 crawl itself remains
    // on the gate's critical path (guide §2.6 — overlap independent work;
    // the child touches no shared state until the run command arrives)
    val pendingChild = graft.tools.CrawlResumeChild.spawnEager()
    val (code, out, tChild) = try {
      // generation 1: full run in-process
      copyFixture(s"$fixture/a", landing, "a-")
      runInProcess()
      // generation 2: a child JVM that hard-halts right after the dedup MV
      // commits — ingest + dedup state is on disk, index/mix/final never ran
      copyFixture(s"$fixture/b", landing, "b-")
      val t0 = System.nanoTime()
      val (c, o) = pendingChild.run(s"$wh/wh", s"$wh/cp", yamlDir, "c15_corpus")
      (c, o, t0)
    } finally pendingChild.destroy()
    // the child's wall clock is JVM boot + session lifecycle + one crawl
    // generation — gate scaffolding, not this engine's plan cost; record
    // it so the bench can report plan_cost beside total
    graft.tools.GateLifecycle.add((System.nanoTime() - tChild) / 1e9)
    require(code == 137 && out.contains("HALTING after c15_corpus"),
      s"c15: child JVM was supposed to hard-halt after the dedup commit " +
        s"(exit 137), got exit $code; output tail: ${out.takeRight(800)}")
    // resume: the SAME project, in-process — streams resume their
    // checkpoints (no new data), the index folds the generation-2 delta
    // the crashed run never indexed, mix/final recompute
    runInProcess()
    store.read("c15_final")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_cloudfiles_ingest" -> c1CloudfilesIngest,
    "c2_avro_ingest" -> c2AvroIngest,
    "c3_jdbc_ingest" -> c3JdbcIngest,
    "c4_function_pipeline" -> c4FunctionPipeline,
    "c5_custom_source" -> c5CustomSource,
    "c6_temp_table" -> c6TempTable,
    "c7_files_sink" -> c7FilesSink,
    "c8_curation_pipeline" -> c8CurationPipeline,
    "c9_compaction" -> c9Compaction,
    "c10_orchestrated_medallion" -> c10OrchestratedMedallion,
    "c11_sandboxed_run" -> c11SandboxedRun,
    "c12_warc_ingest" -> c12WarcIngest,
    "c13_web_curation" -> c13WebCuration,
    "c14_incremental_index" -> c14IncrementalIndex,
    "c15_crawl_resume" -> c15CrawlResume,
    "q55_incremental_join_mv" -> q55IncrementalJoinMv,
    "q58_windowed_mv" -> q58WindowedMv,
    "q59_dedup_mv" -> q59DedupMv,
    "q60_session_mv" -> q60SessionMv,
    "q61_stream_dedup" -> q61StreamDedup,
    "q62_stream_stream_join" -> q62StreamStreamJoin,
    "q63_recompute_mv" -> q63RecomputeMv,
    "q65_ssj_mv" -> q65StreamStreamMv,
    "q66_global_window_mv" -> q66GlobalWindowMv,
    "q67_global_window_computed" -> q67GlobalWindowComputed,
    "q64_nested_dedup_mv" -> q64NestedDedupMv,
    "m1_multimodal_features" -> m1Multimodal,
    "m2_hash_sample" -> m2Sample,
    "m3_stratified_mix" -> m3StratifiedMix,
    "m4_domain_cap" -> m4DomainCap,
    "m5_shuffle_shards" -> ((s, dir) =>
      graft.dedup.Sampling.shuffleShards(
        Tables.load(s, dir, "documents"), "doc_id", shards = 16, portable = true)
        .select("doc_id", "_shard", "_pos")),
    "m6_temperature_mix" -> ((s, dir) =>
      graft.dedup.Sampling.temperatureSample(
        Tables.load(s, dir, "documents"), "doc_id", "source",
        alpha = 0.5, baseRate = 0.5, portable = true)
        .select("doc_id", "source", "lang")),
    "m7_split_assign" -> ((s, dir) =>
      graft.dedup.Sampling.splitAssign(
        Tables.load(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01), portable = true)
        .select("doc_id", "_split")),
    "m8_upsample_epochs" -> ((s, dir) =>
      graft.dedup.Sampling.upsampleEpochs(
        Tables.load(s, dir, "documents"), "doc_id", "source",
        weights = Map("src1" -> 2.5, "src2" -> 0.5), default = 1.0,
        portable = true)
        .select("doc_id", "source", "_epoch")),
    "m9_mixture_rates" -> m9MixtureRates,
    "q32_schema_evolution" -> q32SchemaEvolution,
    "q33_change_feed" -> q33ChangeFeed,
    "q46_cdf_window" -> q46CdfWindow,
    "q47_time_travel" -> q47TimeTravel,
    "q48_skip_change_commits" -> q48SkipChangeCommits,
    "q49_scd2_time_travel" -> q49Scd2TimeTravel,
    "q50_ignore_deletes" -> q50IgnoreDeletes,
    "e1_monitoring_rollup" -> e1MonitoringRollup)

  /** All three are oracle-checked. The stub decoder's pseudo-dimensions and
    * the sample buckets are md5-derived (big-endian first-8-hex =
    * `('0x' || substring(md5(x), 1, 8))::BIGINT` in DuckDB), and sha_prefix
    * uses sha256 — both engines hash the same UTF-8 bytes. Sample thresholds
    * are `(fraction * 2^32).toLong` — 0.1 → 429496729, 0.2 → 858993459,
    * 1.0 → 4294967296 (all-pass). */
  // shared by q62 (streaming_table route) and q65 (direct-MV route)
  private val ssjBatchJoinSql: String =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |       a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTE""".stripMargin

  val oracle: Map[String, String] = Map(
    "m1_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  CAST(64 + (('0x' || substring(md5(text), 1, 8))::BIGINT % 1024) AS INT) AS width,
        |  CAST(64 + ((('0x' || substring(md5(text), 1, 8))::BIGINT // 1024) % 1024) AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  substring(sha256(text), 1, 8) AS sha_prefix
        |FROM documents""".stripMargin,
    "m2_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT
        |      < 429496729""".stripMargin,
    "m3_stratified_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT
        |      < CASE WHEN lang = 'en' THEN 4294967296 ELSE 858993459 END""".stripMargin,
    // m5 recomputes the portable shard assignment + in-shard rank exactly:
    // a row in the wrong shard or position hash-mismatches
    "m5_shuffle_shards" ->
      """SELECT doc_id, CAST(b % 16 AS INT) AS _shard,
        |  CAST(row_number() OVER (PARTITION BY b % 16 ORDER BY b, doc_id) AS INT) AS _pos
        |FROM (SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT AS b
        |  FROM documents)""".stripMargin,
    // c8 re-derives the whole five-stage curation funnel: the t2 quality
    // predicate (same 6-digit rounding before comparison), md5 keeper
    // windows, exact-Jaccard pairs + recursive closure (= the LSH-verified
    // pair set, d3's argument), 5-gram decontamination against the probe
    // docs, and the portable md5 sample threshold (0.5 * 2^32)
    "c8_curation_pipeline" ->
      """WITH RECURSIVE
        |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
        |probes AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
        |q AS (SELECT doc_id, text FROM corpus
        |      WHERE len(string_split(text, ' ')) >= 5
        |        AND len(string_split(text, ' ')) <= 100000
        |        AND round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |              / len(string_split(text, ' ')), 6) >= 2
        |        AND round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |              / len(string_split(text, ' ')), 6) <= 15
        |        AND round(len(list_distinct(string_split(text, ' '))) * 1.0
        |              / len(string_split(text, ' ')), 6) > 0.1),
        |ex AS (SELECT doc_id, text FROM (
        |         SELECT doc_id, text,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |         FROM q) WHERE rn = 1),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM ex),
        |sh AS (SELECT DISTINCT doc_id, s AS shingle FROM (
        |         SELECT doc_id, list_aggregate(w[i:i+2], 'string_agg', ' ') AS s
        |         FROM toks, UNNEST(range(1, greatest(len(w) - 1, 2))) AS t(i))
        |       WHERE length(s) > 0),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |jp AS (SELECT id_a, id_b FROM pairs
        |       JOIN sizes sa ON id_a = sa.doc_id
        |       JOIN sizes sb ON id_b = sb.doc_id
        |       WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.6),
        |edges AS (SELECT id_a AS a, id_b AS b FROM jp
        |          UNION SELECT id_b, id_a FROM jp),
        |closure(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a),
        |comp AS (SELECT a AS id, least(a, min(b)) AS component
        |         FROM closure GROUP BY a),
        |nd AS (SELECT doc_id, text FROM ex WHERE doc_id NOT IN
        |        (SELECT id FROM comp WHERE id <> component)),
        |ptoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM probes),
        |psh AS (SELECT DISTINCT list_aggregate(w[i:i+4], 'string_agg', ' ') AS s
        |        FROM ptoks, UNNEST(range(1, greatest(len(w) - 3, 2))) AS t(i)),
        |ntoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM nd),
        |nsh AS (SELECT DISTINCT doc_id,
        |          list_aggregate(w[i:i+4], 'string_agg', ' ') AS s
        |        FROM ntoks, UNNEST(range(1, greatest(len(w) - 3, 2))) AS t(i)),
        |clean AS (SELECT doc_id, text FROM nd WHERE doc_id NOT IN
        |           (SELECT DISTINCT doc_id FROM nsh JOIN psh USING (s)))
        |SELECT doc_id, text FROM clean
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT
        |      < 2147483648""".stripMargin,
    // m7: the cumulative thresholds are (0.98·2^32).toLong = 4209067950 and
    // (0.99·2^32).toLong = 4252017623 — hardcoded here exactly as the
    // operator's fold computes them
    "m7_split_assign" ->
      """SELECT doc_id, CASE
        |  WHEN b < 4209067950 THEN 'train'
        |  WHEN b < 4252017623 THEN 'val'
        |  ELSE 'test' END AS _split
        |FROM (SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT AS b
        |  FROM documents)""".stripMargin,
    // c11: content through the sandboxed store equals the raw table; the
    // physical-namespace invariant is asserted loudly inside the gate
    "c11_sandboxed_run" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    // c10: the oracle recomputes the gold layer directly from the raw
    // tables — a misordered or partial orchestration cannot reproduce it
    "c10_orchestrated_medallion" ->
      """SELECT c_nationkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    // c9: content invariance under compaction — the oracle is simply the
    // raw projection; any row lost, duplicated, or mutated by the rewrite
    // hash-mismatches
    "c9_compaction" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders""".stripMargin,
    // m8: epoch fan-out = ceil(weight); full epochs always kept, the
    // fractional epoch by the per-epoch md5 draw (salt 0 + epoch + 1
    // folded into the hashed string) — a wrong epoch count, wrong
    // fractional rate, or non-independent draw hash-mismatches
    "m8_upsample_epochs" ->
      """WITH base AS (SELECT doc_id, source,
        |    CASE WHEN source = 'src1' THEN 2.5
        |         WHEN source = 'src2' THEN 0.5 ELSE 1.0 END AS wt
        |  FROM documents),
        |e AS (SELECT doc_id, source, wt, CAST(i AS INT) AS _epoch
        |      FROM base, UNNEST(range(0, CAST(ceil(wt) AS BIGINT))) AS t(i))
        |SELECT doc_id, source, _epoch FROM e
        |WHERE _epoch < floor(wt)
        |   OR ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(_epoch + 1 AS VARCHAR)), 1, 8))::BIGINT
        |      < CAST(floor((wt - floor(wt)) * 4294967296) AS BIGINT)""".stripMargin,
    // m9: the water-filling closed form rebuilt end-to-end. Exactness
    // argument: weights are integer-valued doubles and token counts are
    // BIGINTs, so every prefix sum is exact in ANY summation order; λ and
    // the per-source targets are then single IEEE operations on identical
    // operands in both engines. arg_max(cumW, cumN) = the Spark struct-max
    // (prefix sums are monotone, so max cumN IS the last capped row).
    // Budget uses DuckDB's INTEGER division `//` — plain `/` is float
    // division whose BIGINT cast rounds-to-nearest, diverging from Scala's
    // Long floor division by 1 whenever SUM(n)*4 ≢ 0,±1 (mod 5) rounds up.
    "m9_mixture_rates" ->
      """WITH counts AS (
        |  SELECT source,
        |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n,
        |    1.0 + CAST(substr(source, 4) AS INT) % 3 AS w
        |  FROM documents GROUP BY source),
        |b AS (SELECT (SUM(n) * 4) // 5 AS budget FROM counts),
        |withr AS (
        |  SELECT c.*, budget,
        |    CASE WHEN w > 0 THEN CAST(n AS DOUBLE) / w END AS r
        |  FROM counts c, b),
        |ranked AS (
        |  SELECT *,
        |    SUM(CASE WHEN w > 0 THEN n ELSE 0 END)
        |      OVER (ORDER BY r ASC NULLS LAST, source ASC) AS cumN,
        |    SUM(CASE WHEN w > 0 THEN w ELSE 0 END)
        |      OVER (ORDER BY r ASC NULLS LAST, source ASC) AS cumW,
        |    SUM(CASE WHEN w > 0 THEN w ELSE 0 END) OVER () AS totW
        |  FROM withr),
        |flagged AS (
        |  SELECT *, (r IS NOT NULL AND
        |    CAST(n AS DOUBLE) * (totW - cumW) <= (CAST(budget AS DOUBLE) - CAST(cumN AS DOUBLE)) * w) AS capped
        |  FROM ranked),
        |k AS (SELECT COALESCE(MAX(cumN), 0) AS kN,
        |             COALESCE(arg_max(cumW, cumN), 0.0) AS kW
        |      FROM flagged WHERE capped),
        |lam AS (
        |  SELECT f.*, kN, kW,
        |    CASE WHEN totW > kW
        |         THEN (CAST(budget AS DOUBLE) - CAST(kN AS DOUBLE)) / (totW - kW) END AS lv
        |  FROM flagged f, k),
        |tgt AS (
        |  SELECT source, n, w,
        |    CAST(CASE WHEN capped THEN CAST(n AS DOUBLE)
        |              WHEN r IS NULL THEN 0.0
        |              ELSE least(CAST(n AS DOUBLE), floor(lv * w)) END AS BIGINT) AS target_tokens
        |  FROM lam)
        |SELECT source, n AS n_tokens, w AS weight, target_tokens,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE round(CAST(target_tokens AS DOUBLE) / CAST(n AS DOUBLE), 9) END AS rate
        |FROM tgt""".stripMargin,
    // m6: α = 0.5 temperature rates rebuilt exactly — sqrt is IEEE
    // correctly-rounded in both engines, so the per-domain threshold (and
    // therefore every kept row) reproduces bit-for-bit
    "m6_temperature_mix" ->
      """WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
        |mx AS (SELECT max(c) AS cmax FROM counts),
        |rates AS (SELECT source,
        |    CAST(floor(least(1.0, 0.5 * sqrt(CAST(cmax AS DOUBLE) / c))
        |               * 4294967296) AS BIGINT) AS thr
        |  FROM counts, mx)
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN rates r USING (source)
        |WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT
        |      < r.thr""".stripMargin,
    "m4_domain_cap" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT,
        |      doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,
    "q32_schema_evolution" ->
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin,
    "q33_change_feed" ->
      """SELECT event_id, user_id, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END
        |    AS _change_type,
        |  CAST(event_id % 2 AS BIGINT) AS _commit_version
        |FROM events""".stripMargin,
    // the [1,1] version window is exactly the odd-event_id batch
    "q46_cdf_window" ->
      """SELECT event_id, user_id, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END
        |    AS _change_type,
        |  CAST(1 AS BIGINT) AS _commit_version
        |FROM events WHERE event_id % 2 = 1""".stripMargin,
    // state as of v0 = SCD1 merge of the even-event_id batch alone:
    // latest event per user among evens, dropped when that event is the
    // delete predicate ('error')
    "q47_time_travel" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id % 2 = 0)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // the two append commits' rows exactly — the merge commit is skipped
    "q48_skip_change_commits" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 3 < 2""".stripMargin,
    // SCD2 history as of v0 = chains rebuilt from the even-event batch:
    // per user, versions ordered by event_id; consecutive versions with
    // identical tracked columns (event_type, value) collapse; each version
    // closes at the next surviving version's start (null = still open)
    "q49_scd2_time_travel" ->
      """WITH evens AS (
        |  SELECT event_id, user_id, event_type, value
        |  FROM events WHERE event_id % 2 = 0),
        |tagged AS (
        |  SELECT *,
        |    LAG(event_id) OVER w AS p_id,
        |    LAG(event_type) OVER w AS p_et,
        |    LAG(value) OVER w AS p_v
        |  FROM evens WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |kept AS (
        |  SELECT event_id, user_id, event_type, value FROM tagged
        |  WHERE p_id IS NULL OR event_type IS DISTINCT FROM p_et
        |     OR value IS DISTINCT FROM p_v)
        |SELECT event_id, user_id, event_type, value,
        |  event_id AS __start_at,
        |  LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS __end_at
        |FROM kept""".stripMargin,
    // the append commit's rows exactly — the delete-only merge commit is
    // excused (dropped), not streamed and not a failure
    "q50_ignore_deletes" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 2 = 0""".stripMargin,
    // q55's oracle recomputes the incremental-join MV from the raw tables
    // in one shot: a fact row joined twice (replay), skipped (lost batch)
    // or double-counted in the distinct aggregates hash-mismatches
    "q55_incremental_join_mv" ->
      """SELECT r_name,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    // q58's oracle recomputes the finalized-window set from the raw events
    // in one shot: the MV holds exactly the daily windows with
    // end <= max(ts) - delay (run-count- and batching-independent), so a
    // re-emitted, skipped, or late-dropped window hash-mismatches
    "q58_windowed_mv" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks
        |FROM events, wm
        |WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
        |GROUP BY 1""".stripMargin,
    // q60's oracle recomputes full-data sessionization (the q42
    // gaps-and-islands formulation) and keeps the watermark-finalized
    // sessions — state-merge, emission, and exactly-once bugs all
    // hash-mismatch
    "q60_session_mv" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER win IS NULL
        |           OR ts - lag(ts) OVER win >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id,
        |    min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |  FROM sessions GROUP BY user_id, sid)
        |SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.session_value
        |FROM agg a, wm WHERE a.session_end <= wm.w""".stripMargin,
    // q59's oracle is the one-shot DISTINCT over all events: a duplicate
    // (replayed batch, non-null-safe anti-join) or dropped key
    // hash-mismatches
    "q59_dedup_mv" ->
      """SELECT DISTINCT event_type,
        |       CASE WHEN user_id % 7 = 0 THEN CAST(NULL AS BIGINT)
        |            ELSE user_id % 50 END AS ub
        |FROM events""".stripMargin,
    // q61's oracle is the plain source slice: the fixture's injected
    // duplicates must all be dropped (in-batch and cross-run) and no row
    // may be dropped as late, so any dedup or watermark bug changes the
    // row set and hash-mismatches
    "q61_stream_dedup" ->
      "SELECT event_id, ts, event_type, value FROM events",
    // q62's oracle is the equivalent batch join: every (click, purchase)
    // pair per user within 30 minutes, exactly once — a cross-run match
    // dropped by lost join state, or a replayed batch's duplicate,
    // hash-mismatches
    "q62_stream_stream_join" -> ssjBatchJoinSql,
    // q65's oracle IS q62's (one shared definition, the no-drifting-copies
    // rule): the direct-MV maintenance route must produce exactly the
    // one-shot batch join — a lost cross-boundary match (dropped
    // checkpoint state) or a replay duplicate hash-mismatches
    "q65_ssj_mv" -> ssjBatchJoinSql,
    // q63's oracle recomputes the per-user windows over ALL events in one
    // shot: a recompute that restarts ranks at the run boundary (delta-only
    // instead of base-wide), clobbers an untouched bucket's partition, or
    // re-appends instead of replacing, hash-mismatches
    "q63_recompute_mv" ->
      """SELECT CAST(user_id % 50 AS BIGINT) AS ub, user_id, event_id, ts,
        |       CAST(row_number() OVER
        |         (PARTITION BY user_id % 50, user_id ORDER BY ts, event_id)
        |         AS BIGINT) AS rn,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER
        |         (PARTITION BY user_id % 50, user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS running_value
        |FROM events""".stripMargin,
    // q66's oracle ranks ALL events in one shot: a tail rank computed
    // from stale head-bucket counts, a clobbered head partition, or a
    // local rank not lifted by the prefix offset hash-mismatches
    "q66_global_window_mv" ->
      """SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS vb,
        |       CAST(rank() OVER
        |         (ORDER BY CAST(floor(value) AS BIGINT) DESC NULLS LAST)
        |         AS INT) AS rnk,
        |       CAST(dense_rank() OVER
        |         (ORDER BY CAST(floor(value) AS BIGINT) DESC NULLS LAST)
        |         AS INT) AS drk,
        |       percent_rank() OVER
        |         (ORDER BY CAST(floor(value) AS BIGINT) DESC NULLS LAST) AS prnk,
        |       cume_dist() OVER
        |         (ORDER BY CAST(floor(value) AS BIGINT) DESC NULLS LAST) AS cdist
        |FROM events""".stripMargin,
    // q67's oracle ranks ALL events by the computed key in one shot — a
    // mis-routed delta bucket, a stale inlined-expression signature, or a
    // head-bucket offset fed from wrong counts hash-mismatches
    "q67_global_window_computed" ->
      """SELECT event_id, user_id, value,
        |       CAST(rank() OVER
        |         (ORDER BY floor(value) * 3 + user_id % 5 DESC NULLS LAST)
        |         AS INT) AS rnk,
        |       CAST(dense_rank() OVER
        |         (ORDER BY floor(value) * 3 + user_id % 5 DESC NULLS LAST)
        |         AS INT) AS drk
        |FROM events""".stripMargin,
    // q64's oracle dedups and aggregates ALL events in one shot — a
    // cross-run duplicate surviving (delta-only recompute), a dropped
    // event, or a wrong exact-DISTINCT count hash-mismatches
    "q64_nested_dedup_mv" ->
      """SELECT ub, user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM (SELECT DISTINCT CAST(user_id % 20 AS BIGINT) AS ub, user_id,
        |             event_id, event_type
        |      FROM events)
        |GROUP BY 1, 2""".stripMargin,
    // c1's oracle is the plain source table: any duplicate (checkpoint
    // replay) or missing (skipped file) row in the three-run ingest
    // hash-mismatches against it
    "c1_cloudfiles_ingest" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer""".stripMargin,
    // c2's oracle is the same raw table: the Spark side round-trips every
    // row through Avro containers and the streaming ingest, so any encode/
    // decode mangling or replay/skip hash-mismatches
    "c2_avro_ingest" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer""".stripMargin,
    // c12: same raw-table oracle as c2 — the Spark side round-trips every
    // row through real WARC archives and the streaming ingest, so framing/
    // gzip/CRLF mangling or replay/skip hash-mismatches
    "c12_warc_ingest" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer""".stripMargin,
    // c13: the whole web-curation chain recomputed from the raw documents
    // table — the shared shell-strip expression plus the same length
    // filter; any stage defect in the WARC-fronted pipeline mismatches
    "c13_web_curation" ->
      s"""SELECT doc_id, clean AS text FROM (
         |  SELECT doc_id, ${graft.queries.LlmData.htmlShellStripExpr} AS clean
         |  FROM documents)
         |WHERE length(clean) >= 200""".stripMargin,
    // c14: the incrementally-maintained index must answer EXACTLY like a
    // fresh full-corpus build — the s9 oracle verbatim (one-shot BM25
    // over all documents); a missed delta, a replay double-fold, or
    // stale df/avgdl statistics hash-mismatch
    "c14_incremental_index" -> graft.queries.LlmData.oracle("s9_bm25_topk"),
    // c15: the WHOLE crawl chain recomputed from the raw documents table
    // in one shot — shell-strip + length filter (c13), distinct-text
    // dedup (the corpus), full-corpus BM25 with fp ids (s9's shape), the
    // m9 mixture solver over length buckets, and the final join. The
    // Spark side ran it as two orchestrated generations with a hard-halt
    // between the dedup commit and the index/mix flowgroups — any
    // duplicate surviving the crash boundary, double-folded index delta,
    // or stale mixture count hash-mismatches here.
    "c15_crawl_resume" ->
      s"""WITH curated AS (
         |  SELECT clean AS text FROM (
         |    SELECT ${graft.queries.LlmData.htmlShellStripExpr} AS clean
         |    FROM documents)
         |  WHERE length(clean) >= 200),
         |corpus AS (SELECT DISTINCT md5(text) AS fp, text FROM curated),
         |tok AS (SELECT fp, unnest(string_split(text, ' ')) AS t FROM corpus),
         |tf AS (SELECT fp, t, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT fp, len(string_split(text, ' ')) AS len FROM corpus),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |              CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE) AS avgdl FROM corpus),
         |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         |idf AS (SELECT t, ln(1.0 + (nn.n - CAST(df AS DOUBLE) + 0.5)
         |                            / (CAST(df AS DOUBLE) + 0.5)) AS idf
         |        FROM df CROSS JOIN nn),
         |q AS (SELECT DISTINCT q, t FROM (
         |        SELECT fp AS q, unnest(string_split(text, ' ')[1:8]) AS t
         |        FROM corpus WHERE fp LIKE '0%')),
         |c AS (SELECT q.q, tf.fp AS d, q.t,
         |        idf.idf * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
         |        / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |           * (0.25 + (0.75 * CAST(dl.len AS DOUBLE)) / nn.avgdl)) AS c
         |      FROM q JOIN tf ON q.t = tf.t
         |      JOIN idf ON idf.t = q.t
         |      JOIN dl ON dl.fp = tf.fp
         |      CROSS JOIN nn),
         |sc AS (SELECT q, d, list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |         list(c ORDER BY t)), (a, b) -> a + b) AS s
         |       FROM c GROUP BY q, d),
         |r AS (SELECT q, d, s,
         |        row_number() OVER (PARTITION BY q ORDER BY s DESC, d ASC) AS rank
         |      FROM sc),
         |hits AS (SELECT q AS qid, d AS fp, CAST(rank AS INT) AS rank,
         |                round(s, 6) AS bm25
         |         FROM r WHERE rank <= 5),
         |buck AS (SELECT fp, CAST(least(length(text) // 400, 9) AS INT) AS bucket
         |         FROM corpus),
         |counts AS (SELECT b.bucket,
         |             CAST(SUM(length(c2.text) - length(replace(c2.text, ' ', '')) + 1)
         |               AS BIGINT) AS n,
         |             CAST(1.0 + b.bucket % 3 AS DOUBLE) AS w
         |           FROM buck b JOIN corpus c2 USING (fp) GROUP BY 1, 3),
         |bgt AS (SELECT (SUM(n) * 4) // 5 AS budget FROM counts),
         |withr AS (
         |  SELECT c3.*, budget,
         |    CASE WHEN w > 0 THEN CAST(n AS DOUBLE) / w END AS r
         |  FROM counts c3, bgt),
         |ranked AS (
         |  SELECT *,
         |    SUM(CASE WHEN w > 0 THEN n ELSE 0 END)
         |      OVER (ORDER BY r ASC NULLS LAST, bucket ASC) AS cumN,
         |    SUM(CASE WHEN w > 0 THEN w ELSE 0 END)
         |      OVER (ORDER BY r ASC NULLS LAST, bucket ASC) AS cumW,
         |    SUM(CASE WHEN w > 0 THEN w ELSE 0 END) OVER () AS totW
         |  FROM withr),
         |flagged AS (
         |  SELECT *, (r IS NOT NULL AND
         |    CAST(n AS DOUBLE) * (totW - cumW) <= (CAST(budget AS DOUBLE) - CAST(cumN AS DOUBLE)) * w) AS capped
         |  FROM ranked),
         |k AS (SELECT COALESCE(MAX(cumN), 0) AS kN,
         |             COALESCE(arg_max(cumW, cumN), 0.0) AS kW
         |      FROM flagged WHERE capped),
         |lam AS (
         |  SELECT f.*, kN, kW,
         |    CASE WHEN totW > kW
         |         THEN (CAST(budget AS DOUBLE) - CAST(kN AS DOUBLE)) / (totW - kW) END AS lv
         |  FROM flagged f, k),
         |mix AS (
         |  SELECT bucket, n,
         |    CAST(CASE WHEN capped THEN CAST(n AS DOUBLE)
         |              WHEN r IS NULL THEN 0.0
         |              ELSE least(CAST(n AS DOUBLE), floor(lv * w)) END AS BIGINT)
         |      AS target_tokens
         |  FROM lam),
         |rates AS (SELECT bucket,
         |            CASE WHEN n = 0 THEN 0.0
         |                 ELSE round(CAST(target_tokens AS DOUBLE)
         |                            / CAST(n AS DOUBLE), 9) END AS rate
         |          FROM mix)
         |SELECT h.qid, h.fp, h.rank, h.bm25, b.bucket, m.rate
         |FROM hits h
         |JOIN buck b ON h.fp = b.fp
         |JOIN rates m ON m.bucket = b.bucket""".stripMargin,
    // c3's oracle is the raw supplier table: the Spark side round-trips it
    // through a real JDBC database, so type mangling or dropped rows at the
    // JDBC boundary hash-mismatch
    "c3_jdbc_ingest" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier""".stripMargin,
    // c4 recomputes the plugin pipeline's one-multiply transform exactly
    // (binary64 × binary64 is bit-identical across engines; 1.0-0.1 is
    // exactly the double 0.9). rate=0.1 differs from the plugin's 0.05
    // DEFAULT on purpose: a dropped parameters map would fall back to the
    // default and hash-mismatch, pinning the parameter plumbing itself
    "c4_function_pipeline" ->
      """SELECT o_orderkey, o_totalprice,
        |       o_totalprice * 0.9 AS net_price
        |FROM orders""".stripMargin,
    // c5 recomputes the DSv2 demo source's deterministic generator
    "c5_custom_source" ->
      """SELECT CAST(range AS BIGINT) AS id,
        |       CAST(range % 10 AS INT) AS bucket,
        |       'row-' || CAST(range AS VARCHAR) AS payload
        |FROM range(5000)""".stripMargin,
    // c6 recomputes the post-temp-table aggregate from raw orders
    "c6_temp_table" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // c7's oracle is the raw projection the sink landed
    "c7_files_sink" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders""".stripMargin,
    // e1 recomputes the monitoring rollup from the RAW per-pipeline event
    // logs the query dumps at [[e1LogDumpPath]] — independent of the
    // monitoring union stream, so union replay/duplication bugs
    // hash-mismatch instead of cancelling out
    "e1_monitoring_rollup" ->
      s"""SELECT pipeline, event_type, CAST(count(*) AS BIGINT) AS n
         |FROM read_parquet('$e1LogDumpPath/*/*.parquet')
         |GROUP BY pipeline, event_type""".stripMargin)
}
