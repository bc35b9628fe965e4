package graft.plan

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.model._

/** Cross-flowgroup dependency analysis — the reference's three-level graph
  * builder (core/dependencies/builder.py:123-326, analyzer.py:41-60), with
  * Catalyst's own SQL parser standing in for sqlglot: table references are
  * collected from the *parsed logical plan*, so every SQL shape Spark accepts
  * is analyzed correctly (CTEs, subqueries, lateral views…).
  */
object DependencyAnalyzer {

  /** Extract referenced table/view names from a SQL string via Catalyst.
    * Recurses into innerChildren (CTE definitions, views) which `collect`
    * skips, and excludes names the statement itself defines (CTE aliases). */
  def tablesInSql(spark: SparkSession, sql: String): Seq[String] = {
    def refs(p: LogicalPlan): Seq[String] = {
      val here = p match {
        case r: UnresolvedRelation => Seq(r.multipartIdentifier.mkString("."))
        case _ => Nil
      }
      val inner = p.innerChildren.collect { case lp: LogicalPlan => refs(lp) }.flatten
      here ++ inner ++ p.children.flatMap(refs)
    }
    def definedNames(p: LogicalPlan): Seq[String] = {
      val here = p match {
        case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
          w.cteRelations.map(_._1)
        case _ => Nil
      }
      val inner = p.innerChildren.collect { case lp: LogicalPlan => definedNames(lp) }.flatten
      here ++ inner ++ p.children.flatMap(definedNames)
    }
    Try(spark.sessionState.sqlParser.parsePlan(StreamRef.strip(sql))).toOption
      .map(p => (refs(p).distinct diff definedNames(p).distinct))
      .getOrElse(Nil)
  }

  /** One advisory from dependency extraction — the reference's
    * LHP-DEP-003 (core/dependencies/sql_extraction.py:260-290): SQL that
    * the parser rejects contributes ZERO edges, so the ordering is
    * silently incomplete unless the user declares `depends_on`. Warning-
    * only — analysis proceeds; the graph JSON and the deps CLI surface it. */
  final case class ExtractionWarning(
      code: String,
      message: String,
      flowgroup: String,
      action: String,
      suggestion: String)

  /** Re-parse every SQL-bearing action and report the failures that
    * [[tablesInSql]] absorbed as empty edge sets. An action that declares
    * `depends_on` is exempt — the user already covered its edges, so its
    * parse failures are suppressed (reference source_parsing.py:128-131). */
  def extractionWarnings(spark: SparkSession, fgs: Seq[FlowGroup],
      projectRoot: String = ""): Seq[ExtractionWarning] = {
    // resolve sql_path the same way actionInputs does: an unreadable path
    // reads as an unparseable empty text, so it WARNS here instead of
    // silently contributing zero edges
    def sqls(a: Action): Seq[String] = a match {
      case s: SqlLoad => Seq(sqlText(s.sql, s.sqlPath, projectRoot).getOrElse(""))
      case s: SqlTransform => Seq(sqlText(s.sql, s.sqlPath, projectRoot).getOrElse(""))
      case m: MaterializedViewWrite =>
        m.sqlPath.orElse(m.sql).toSeq.map(_ =>
          sqlText(m.sql.getOrElse(""), m.sqlPath, projectRoot).getOrElse(""))
      case _ => Nil
    }
    for {
      fg <- fgs
      a <- fg.actions
      if a.dependsOn.isEmpty
      sql <- sqls(a)
      err <- Try(spark.sessionState.sqlParser.parsePlan(StreamRef.strip(sql)))
        .failed.toOption
    } yield ExtractionWarning(
      code = "LHP-DEP-003",
      message = "Could not parse SQL for table extraction: " +
        Option(err.getMessage).getOrElse("invalid SQL").linesIterator
          .take(1).mkString.take(200),
      flowgroup = s"${fg.pipeline}.${fg.flowgroup}",
      action = a.name,
      suggestion = "Declare the upstream table(s) explicitly via " +
        "`depends_on` on the action.")
  }

  /** The SQL text an action carries, for EXTRACTION purposes: inline
    * `sql` wins; an empty inline with a `sql_path` reads the file (direct
    * path, then projectRoot-relative — PipelineRunner.resolveFile's
    * lookup order). sqlPath actions used to contribute ZERO edges and no
    * LHP-DEP-003 warning — the scheduler could run a sqlPath MV before
    * its producer, and an in-flowgroup transform consumed only by one was
    * falsely rejected as an orphan. An unreadable path resolves to None:
    * extraction stays warning-grade; execution fails loudly at readFile. */
  private def sqlText(inline: String, path: Option[String],
      projectRoot: String): Option[String] =
    if (inline != null && inline.trim.nonEmpty) Some(inline)
    else path.flatMap { pth =>
      Seq(java.nio.file.Paths.get(pth), java.nio.file.Paths.get(projectRoot, pth))
        .find(java.nio.file.Files.isRegularFile(_))
        .flatMap(f => Try(java.nio.file.Files.readString(f)).toOption)
    }

  /** Sources an action consumes: declared sources, tables referenced inside
    * SQL (Catalyst parse), and explicit `depends_on` edges — the last being
    * the only ordering signal for sources the analyzer CANNOT parse (a
    * plugin/python transform reading a table directly).
    *
    * `trustDependsOn` (the reference dag CLI's `--trust-depends-on`,
    * source_parsing.py:110-121): a non-empty `depends_on` becomes
    * AUTHORITATIVE instead of additive — SQL extraction is skipped for
    * that action and its inputs are exactly the declared `source:` refs
    * unioned with `depends_on`. Actions without `depends_on` extract
    * exactly as in the default mode. */
  def actionInputs(spark: SparkSession, a: Action,
      trustDependsOn: Boolean = false, projectRoot: String = ""): Seq[String] = {
    // one parse per action: the result is kept on the action under the
    // session's parser and both options, and any other key derives afresh
    val parser = spark.sessionState.sqlParser
    val slot = a.inputsSlot
    if (slot != null && (slot.parser eq parser) &&
        slot.trustDependsOn == trustDependsOn && slot.projectRoot == projectRoot)
      slot.names
    else {
      val names = deriveInputs(spark, a, trustDependsOn, projectRoot)
      a.inputsSlot = new Action.Inputs(parser, trustDependsOn, projectRoot, names)
      names
    }
  }

  private def deriveInputs(spark: SparkSession, a: Action,
      trustDependsOn: Boolean, projectRoot: String): Seq[String] = {
    val inputs =
      if (trustDependsOn && a.dependsOn.nonEmpty) a.inputNames
      else a match {
        case s: SqlLoad =>
          sqlText(s.sql, s.sqlPath, projectRoot).toSeq
            .flatMap(tablesInSql(spark, _)) ++ s.dependsOn
        case s: SqlTransform => s.sources ++ sqlText(s.sql, s.sqlPath,
          projectRoot).toSeq.flatMap(tablesInSql(spark, _)) ++ s.dependsOn
        case m: MaterializedViewWrite =>
          // incremental_join MVs carry their REAL upstream (the streamed
          // fact + dims) in joined_sql; the aggregation sql references only
          // the engine-managed __joined companion, which is this MV's own
          // artifact, not a dependency — include the former, drop the latter
          // or the planner would order this MV against a phantom producer
          m.sources ++ m.recomputeView ++
            (sqlText(m.sql.getOrElse(""), m.sqlPath, projectRoot).toSeq ++
              m.joinedSql.toSeq).flatMap(tablesInSql(spark, _))
              .filterNot(n => n == s"${m.table}__joined" ||
                n == s"${m.table.split('.').last}__joined") ++
            m.dependsOn
        case other => other.inputNames
      }
    inputs.distinct
  }

  /** Tables a flowgroup produces (its write targets). SinkWrites are
    * excluded — their `table` is just the action name (files/kafka/handler;
    * nothing another flowgroup could read), and binding it would fabricate
    * cross-flowgroup edges for any name collision (the same bug class as
    * the in-flowgroup Planner fix). */
  def produces(fg: FlowGroup): Set[String] =
    fg.actions.collect {
      case w: StreamingTableWrite => w.table
      case w: MaterializedViewWrite => w.table
    }.toSet

  /** External tables a flowgroup consumes: inputs not defined by any action
    * in the same flowgroup. */
  def consumes(spark: SparkSession, fg: FlowGroup,
      trustDependsOn: Boolean = false, projectRoot: String = ""): Set[String] = {
    val internal = fg.actions.flatMap(_.target).toSet
    fg.actions.flatMap(a =>
      actionInputs(spark, a, trustDependsOn, projectRoot)).toSet -- internal
  }

  final case class Graph(edges: Map[String, Set[String]]) { // node -> deps
    def nodes: Set[String] = edges.keySet ++ edges.values.flatten

    /** Kahn generations: each generation's nodes depend only on earlier
      * generations; a cycle raises with the residual. Linear in nodes plus
      * edges: each node's unmet-dependency count drops as its dependencies
      * are scheduled, so no generation rescans the graph. */
    def generations: Seq[Seq[String]] = {
      val unmet = scala.collection.mutable.HashMap[String, Int]()
      nodes.foreach(n => unmet(n) = edges.getOrElse(n, Set.empty).size)
      val dependents: Map[String, Seq[String]] = edges.toSeq
        .flatMap { case (n, ds) => ds.toSeq.map(_ -> n) }
        .groupMap(_._1)(_._2)
      var ready = unmet.collect { case (n, 0) => n }.toSeq.sorted
      val out = Seq.newBuilder[Seq[String]]
      while (ready.nonEmpty) {
        out += ready
        ready.foreach(unmet.remove)
        ready = ready.flatMap(dependents.getOrElse(_, Nil)).filter { n =>
          unmet(n) -= 1
          unmet(n) == 0
        }.sorted
      }
      if (unmet.nonEmpty)
        throw Planner.PlanError(graft.ErrorCodes.DEP_002(
          s"flowgroup dependency cycle: ${unmet.keys.toSeq.sorted.mkString(", ")}"))
      out.result()
    }
  }

  /** Flowgroup-level graph: fg depends on fgs producing tables it consumes.
    *
    * Producers map to SETS: cross-flowgroup fan-in (two flowgroups
    * appending one table — a shape the orchestrator explicitly supports)
    * must edge the consumer to EVERY producer, or the consumer lands in a
    * generation concurrent with (or earlier than) one of its writers and
    * reads a mid-commit table (a last-wins Map dropped all but one edge).
    * Consumed names also resolve by LEAF name when unambiguous — fg B
    * reading 'events' written by fg A as 'silver.events' is legal at
    * runtime (registerAll registers leaf-name views), so the scheduler
    * must see the edge; an AMBIGUOUS leaf (two qualified tables sharing
    * it) stays unresolved rather than guessing. */
  def flowgroupGraph(spark: SparkSession, fgs: Seq[FlowGroup],
      trustDependsOn: Boolean = false, projectRoot: String = ""): Graph = {
    val producers: Map[String, Set[String]] = fgs.flatMap { fg =>
      produces(fg).map(_ -> s"${fg.pipeline}.${fg.flowgroup}")
    }.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).toSet }
    val byLeaf: Map[String, Set[String]] = producers.toSeq
      .groupBy { case (t, _) => t.split('.').last }
      .collect { case (leaf, ts) if ts.map(_._1).distinct.size == 1 =>
        leaf -> ts.flatMap(_._2).toSet }
    Graph(fgs.map { fg =>
      val me = s"${fg.pipeline}.${fg.flowgroup}"
      me -> consumes(spark, fg, trustDependsOn, projectRoot)
        .flatMap(t => producers.getOrElse(t, byLeaf.getOrElse(t, Set.empty)))
        .filterNot(_ == me)
    }.toMap)
  }

  /** Pipeline-level graph, folded up from the flowgroup graph. */
  def pipelineGraph(spark: SparkSession, fgs: Seq[FlowGroup],
      trustDependsOn: Boolean = false, projectRoot: String = ""): Graph = {
    val fgGraph = flowgroupGraph(spark, fgs, trustDependsOn, projectRoot)
    val pipelineOf = fgs.map(fg => s"${fg.pipeline}.${fg.flowgroup}" -> fg.pipeline).toMap
    Graph(fgGraph.edges.groupBy { case (n, _) => pipelineOf(n) }
      .map { case (p, es) =>
        p -> es.values.flatten.map(pipelineOf).filterNot(_ == p).toSet
      })
  }
}

/** The reference SQL dialect allows `FROM stream(view)` to request a
  * streaming read of a view (docs/concepts/the-action-model.rst:73). Spark's
  * parser rejects it, so the wrapper is stripped before parsing/execution and
  * the referenced views are surfaced to the caller. */
object StreamRef {
  private val Pat = "(?i)\\bstream\\s*\\(\\s*([A-Za-z0-9_.`]+)\\s*\\)".r

  /** Views referenced as stream(...) in the SQL text. */
  def streamedViews(sql: String): Seq[String] =
    Pat.findAllMatchIn(sql).map(_.group(1).replace("`", "")).toSeq.distinct

  /** SQL with stream(...) wrappers replaced by the bare view name. */
  def strip(sql: String): String =
    Pat.replaceAllIn(sql, m => m.group(1))

  /** [[strip]] with per-table renames — the runner substitutes a mangled
    * temp-view name for QUALIFIED stream(catalog.schema.table) references,
    * which cannot be overlaid under their own dotted name (temp views
    * reject dots). */
  def stripTo(sql: String, rename: Map[String, String]): String =
    Pat.replaceAllIn(sql, m => {
      val t = m.group(1).replace("`", "")
      java.util.regex.Matcher.quoteReplacement(rename.getOrElse(t, t))
    })
}
