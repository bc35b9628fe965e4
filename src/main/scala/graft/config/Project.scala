package graft.config

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.yaml.snakeyaml.Yaml

import graft.model.FlowGroup

/** Project manifest + loader — the `lhp.yaml` surface (reference:
  * src/lhp/models/_project.py): a project directory holds `pipelines/`,
  * `templates/`, `presets/`, `substitutions/<env>.yaml`, `schemas/`,
  * `expectations/`, and a manifest with `include` globs and the
  * operational-metadata column catalog. `Project.load(dir)` +
  * `flowgroups(env)` is the library counterpart of the reference CLI's
  * generate step: YAML in, resolved FlowGroups out, ready for
  * [[graft.exec.PipelineOrchestrator]].
  */
final case class Project(
    name: String,
    version: Option[String],
    root: Path,
    include: Seq[String],
    /** `blueprint_include` / `instance_include` (reference
      * core/loaders/_include_patterns_parser.py + blueprint_discoverer.py):
      * project-root-relative globs selecting blueprint DEFINITION files and
      * blueprint INSTANCE files. Empty = the reference defaults (the
      * recursive `blueprints/` and `pipelines/` trees). */
    blueprintInclude: Seq[String] = Nil,
    instanceInclude: Seq[String] = Nil,
    /** Operational-metadata catalog: column name → expression +
      * applies_to/enabled (reference MetadataColumnConfig). */
    opMetaColumns: Map[String, graft.operators.OperationalMetadata.ColumnDef],
    templates: Map[String, String],
    presets: Map[String, String],
    blueprints: Map[String, String],
    /** env → token map. */
    substitutions: Map[String, Map[String, String]],
    /** Team sandbox policy (`sandbox:` block) — see [[Sandbox]]. */
    sandbox: Option[Sandbox.Config] = None,
    /** uc_tagging policy (reference models/_uc_tagging.py): on by default;
      * `remove_undeclared_tags` opts into reconcile-to-declared. */
    tagsEnabled: Boolean = true,
    removeUndeclaredTags: Boolean = false,
    /** event_log block (reference models/_monitoring.py:8-17) — where DLT
      * configures its own log, this engine WRITES one (exec.EventLog). */
    eventLog: Option[Project.EventLogCfg] = None,
    /** monitoring block: union pipeline + monitoring MVs. */
    monitoring: Option[Project.MonitoringCfg] = None,
    /** `required_lhp_version` (reference version_enforcement.py): a PEP
      * 440-subset specifier the run/validate CLIs enforce against
      * [[VersionCheck.CompatVersion]]. */
    requiredLhpVersion: Option[String] = None,
    /** `test_reporting:` block (reference TestReportingConfig): a
      * user-supplied provider that receives every accumulated data-test
      * result at run terminal state — see
      * [[graft.exec.TestReporters.loadProvider]]. */
    testReporting: Option[Project.TestReportingCfg] = None) {

  /** This value's templates, preset chains and blueprints, each parsed once
    * on first use and dropped with the value. */
  private lazy val docs = new FlowGroupResolver.Docs(templates, presets, blueprints)

  /** The monitoring pipeline's name (reference default
    * `{project_name}_event_log_monitoring`) — what the sandbox resolver
    * must exclude from sandbox scope. */
  def monitoringPipelineName: Option[String] =
    monitoring.filter(_.enabled)
      .map(_.pipelineName.getOrElse(s"${name}_event_log_monitoring"))

  /** The per-pipeline event-log table name the Writer hook produces. */
  def eventLogTable(pipeline: String): String = {
    val cfg = eventLog.getOrElse(Project.EventLogCfg())
    (cfg.qualifier.toSeq :+
      s"${cfg.namePrefix}${pipeline}_event_log${cfg.nameSuffix}").mkString(".")
  }

  /** Resolve a `--sandbox` run for this project: personal profile from
    * `.lhp/profile.yaml`, scope/env validation, table-rename map. */
  def sandboxRun(env: String, discoveredPipelines: Iterable[String],
      monitoringPipeline: Option[String] = None): Sandbox.Run =
    Sandbox.resolveRun(sandbox, Sandbox.loadProfile(root), env,
      discoveredPipelines, monitoringPipeline)

  /** Pipeline YAML files selected by the manifest's include globs
    * (relative to `pipelines/`; empty include = everything). */
  def pipelineFiles: Seq[Path] = {
    val dir = root.resolve("pipelines")
    if (!Files.exists(dir)) Nil
    else {
      val fs = dir.getFileSystem
      val matchers = include.map(g => fs.getPathMatcher(s"glob:$g"))
      scala.util.Using.resource(Files.walk(dir)) { s =>
        s.iterator().asScala
          // BOTH extensions, like the reference's flowgroup discoverer
          // (flowgroup_discoverer.py:92-93 rglobs *.yaml AND *.yml) — a
          // .yaml-only filter silently resolved zero flowgroups from a
          // .yml-authored project
          .filter(p => (p.toString.endsWith(".yaml") || p.toString.endsWith(".yml")) &&
            Files.isRegularFile(p))
          .filter(p => matchers.isEmpty || matchers.exists(_.matches(dir.relativize(p))))
          .toList.sortBy(_.toString)
      }
    }
  }

  /** Register the environment's `{catalog}` token as a
    * [[org.apache.spark.sql.graftnative.WarehouseCatalog]] over `warehouse`,
    * so post-substitution three-part SQL (`catalog.schema.table`) resolves
    * against the pipeline store. No-op when the env defines no catalog. */
  def registerCatalog(spark: org.apache.spark.sql.SparkSession, env: String,
      warehouse: String): Option[String] =
    substitutions.getOrElse(env, Map.empty).get("catalog").map { cat =>
      spark.conf.set(s"spark.sql.catalog.$cat",
        "org.apache.spark.sql.graftnative.WarehouseCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
      cat
    }

  /** Blueprint INSTANCE files selected by `instance_include` (reference
    * blueprint_discoverer.discover_instances): routed by CONTENT SHAPE —
    * only files whose first document carries `use_blueprint`/`blueprint`
    * count, everything else belongs to the flowgroup pass. Instance
    * discovery is independent of the flowgroup `include` globs, so an
    * instance excluded by `include` (or living outside `pipelines/` under
    * a widened pattern) is still found. A file that fails to PARSE during
    * the shape sniff is simply not an instance — erroring here would make
    * a malformed scratch file the include globs deliberately exclude fatal
    * to the whole run. */
  def instanceFiles: Seq[Path] = instanceFilesExcluding(Set.empty)

  private def instanceFilesExcluding(exclude: Set[Path]): Seq[Path] = {
    val patterns =
      if (instanceInclude.isEmpty) Project.DefaultInstancePatterns
      else instanceInclude
    Project.globFiles(root, patterns).filterNot(exclude).filter { p =>
      scala.util.Try {
        new Yaml().loadAll(Files.readString(p)).asScala.find(_ != null).exists {
          case m: java.util.Map[_, _] =>
            m.asScala.keys.exists(k =>
              k.toString == "use_blueprint" || k.toString == "blueprint")
          case _ => false
        }
      }.getOrElse(false)
    }
  }

  /** Every file the resolution pass covers: the include-selected pipeline
    * files plus instance files reachable only through `instance_include`.
    * Shared by [[flowgroups]] and the validate CLI — validate walking a
    * NARROWER set than run would let an invalid instance pass validation
    * and fail the run. */
  def resolutionFiles: Seq[Path] = {
    val base = pipelineFiles
    base ++ instanceFilesExcluding(base.toSet)
  }

  /** Resolve every included flowgroup for an environment: templates,
    * presets, token substitution, parse. Multi-flowgroup files
    * (`flowgroups:` lists / `---` documents) resolve entry-wise; blueprint
    * instances beyond the flowgroup include set resolve too. */
  def flowgroups(env: String, lenient: Boolean = false,
      secrets: Substitution.SecretProvider = Substitution.envSecrets): Seq[FlowGroup] =
    resolutionFiles.flatMap(p => resolvePipelineFile(p, env, lenient, secrets))

  def envTokens(env: String): Map[String, String] =
    substitutions.getOrElse(env,
      throw YamlConfig.ConfigError(
        s"unknown environment '$env'; have: ${substitutions.keys.toSeq.sorted.mkString(", ")}"))

  /** Resolve ONE pipeline file's flowgroups — exposed so tooling (the
    * validate CLI) can attribute resolution errors to their source file.
    * The file's documents (`---` documents and `flowgroups:` entries)
    * resolve in parallel; see [[Project.inOrder]] for why the results,
    * warnings and errors still come out as a one-at-a-time pass would
    * give them. */
  def resolvePipelineFile(p: Path, env: String, lenient: Boolean = false,
      secrets: Substitution.SecretProvider = Substitution.envSecrets): Seq[FlowGroup] = {
    val tokens: Map[String, String] = envTokens(env)
    // split multi-flowgroup files into per-flowgroup documents, then run
    // each through the full resolution pipeline (textual substitution
    // requires source text, so re-dump each entry); every document gets
    // its own Yaml, which is not thread-safe
    def resolveDoc(doc: AnyRef): FlowGroup =
      FlowGroupResolver.resolveWith(new Yaml().dump(doc), docs, tokens, secrets, lenient)
    val tasks: Seq[() => Seq[FlowGroup]] =
      new Yaml().loadAll(Files.readString(p)).asScala.filter(_ != null).toSeq.flatMap { doc =>
        val m = doc.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
          .map { case (k, v) => k.toString -> v }
        // blueprint instance file: use_blueprint + parameters (new shape) or
        // blueprint + flat top-level params (legacy shape)
        val instanceOf = m.get("use_blueprint").orElse(m.get("blueprint")).map(_.toString)
        instanceOf match {
          case Some(bpName) => Seq { () =>
            val bp = docs.blueprint(bpName).getOrElse(
              throw YamlConfig.ConfigError(s"unknown blueprint '$bpName' (from $p)"))
            val params =
              if (m.contains("use_blueprint")) m.get("parameters") match {
                case Some(pm: java.util.Map[_, _]) =>
                  pm.asScala.map { case (k, v) => k.toString -> String.valueOf(v) }.toMap
                case _ => Map.empty[String, String]
              }
              else (m - "blueprint").map { case (k, v) => k -> String.valueOf(v) }
            Blueprint.expandWith(bp, params, docs, tokens, secrets, lenient)
          }
          case None => m.get("flowgroups") match {
            case Some(l: java.util.List[_]) => l.asScala.toSeq.map { e => () =>
              val entry = e.asInstanceOf[java.util.Map[String, Any]]
              val merged = new java.util.LinkedHashMap[String, Any]()
              (m - "flowgroups").foreach { case (k, v) => merged.put(k, v) }
              entry.asScala.foreach { case (k, v) => merged.put(k.toString, v) }
              Seq(resolveDoc(merged))
            }
            case _ => Seq(() => Seq(resolveDoc(doc)))
          }
        }
      }
    Project.inOrder(tasks).flatten
  }
}

object Project {

  /** `event_log:` block (reference EventLogConfig): enabled + where the
    * per-pipeline event-log tables live. */
  final case class EventLogCfg(
      enabled: Boolean = true,
      catalog: Option[String] = None,
      schema: Option[String] = None,
      namePrefix: String = "",
      nameSuffix: String = "") {
    def qualifier: Option[String] = {
      val q = catalog.toSeq ++ schema.toSeq
      if (q.isEmpty) None else Some(q.mkString("."))
    }
  }

  /** `monitoring:` block (reference MonitoringConfig): the union target and
    * the monitoring materialized views; catalog/schema default to the
    * event_log block's at use time. */
  final case class MonitoringCfg(
      enabled: Boolean = true,
      pipelineName: Option[String] = None,
      catalog: Option[String] = None,
      schema: Option[String] = None,
      streamingTable: String = "all_pipelines_event_log",
      materializedViews: Seq[graft.streaming.Monitoring.MvDef] = Nil,
      /** Streaming checkpoint base for the union streams (reference
        * MonitoringConfig.checkpoint_path). Relative paths resolve under
        * the warehouse; empty/absent = `_checkpoints/<monitoring name>`. */
      checkpointPath: Option[String] = None,
      /** Union-stream pool width (reference ThreadPoolExecutor
        * max_workers, 1..20) — per-source streams have independent
        * checkpoints and disjoint batch directories, so they run
        * concurrently. */
      maxConcurrentStreams: Int = 10,
      /** Databricks job artifacts (job_config_path /
        * enable_job_monitoring): doc-only here — this engine runs the
        * monitoring pipeline in-process, there is no Workflow job to
        * configure. Parsed so the inventory audit can pin them. */
      jobConfigPath: Option[String] = None,
      enableJobMonitoring: Boolean = false)

  /** `test_reporting:` block (reference models/_test_reporting.py):
    * module_path + function_name resolve via
    * [[graft.exec.TestReporters.loadProvider]]; config_file is a
    * project-relative YAML map handed to the provider verbatim. */
  final case class TestReportingCfg(
      modulePath: String,
      functionName: String,
      configFile: Option[String] = None)

  /** Run `tasks` on the parallel-collections pool (daemon threads, sized by
    * the cores) and return their results in task order. Warnings a task
    * raises are captured on its pool thread and replayed here, on the
    * caller's thread, where a [[graft.Log.withSink]] scope lives; the first
    * failing task's error is thrown after the warnings of the tasks before
    * it, so callers see what a one-at-a-time pass would show. */
  private def inOrder[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.collection.parallel.CollectionConverters._
    tasks.par.map { task =>
      val warnings = Vector.newBuilder[String]
      (Try(graft.Log.withSink(w => { warnings += w; () })(task())), warnings.result())
    }.seq.map { case (result, warnings) =>
      warnings.foreach(graft.Log.warn)
      result.get
    }
  }

  def load(dir: String): Project = {
    val root = Paths.get(dir)
    val manifestPath = root.resolve("lhp.yaml")
    val manifest: Map[String, Any] =
      if (!Files.exists(manifestPath)) Map.empty
      else new Yaml().load[Any](Files.readString(manifestPath)) match {
        case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v }.toMap
        case _ => Map.empty
      }
    Project(
      name = manifest.get("name").map(_.toString)
        .getOrElse(root.getFileName.toString),
      version = manifest.get("version").map(_.toString),
      root = root,
      include = strListIn(manifest, "include"),
      blueprintInclude = strListIn(manifest, "blueprint_include"),
      instanceInclude = strListIn(manifest, "instance_include"),
      opMetaColumns = parseOpMeta(manifest),
      templates = yamlDocs(root.resolve("templates")),
      presets = yamlDocs(root.resolve("presets")),
      blueprints = namedDocs("blueprint", globFiles(root,
        strListIn(manifest, "blueprint_include") match {
          case Nil => DefaultBlueprintPatterns
          case ps => ps
        })),
      substitutions = loadSubstitutions(root.resolve("substitutions")),
      sandbox = Sandbox.parseConfig(manifest),
      tagsEnabled = ucTagging(manifest, "enabled", default = true),
      removeUndeclaredTags = ucTagging(manifest, "remove_undeclared_tags", default = false),
      eventLog = subMap(manifest, "event_log").map { m =>
        EventLogCfg(
          enabled = m.get("enabled").forall(boolIn("event_log", "enabled", _)),
          catalog = m.get("catalog").map(_.toString),
          schema = m.get("schema").map(_.toString),
          namePrefix = m.get("name_prefix").map(_.toString).getOrElse(""),
          nameSuffix = m.get("name_suffix").map(_.toString).getOrElse(""))
      },
      monitoring = subMap(manifest, "monitoring").map { m =>
        MonitoringCfg(
          enabled = m.get("enabled").forall(boolIn("monitoring", "enabled", _)),
          pipelineName = m.get("pipeline_name").map(_.toString),
          catalog = m.get("catalog").map(_.toString),
          schema = m.get("schema").map(_.toString),
          streamingTable = m.get("streaming_table").map(_.toString)
            .getOrElse("all_pipelines_event_log"),
          materializedViews = m.get("materialized_views") match {
            case Some(l: java.util.List[_]) => l.asScala.toSeq.map { e =>
              val mm = e.asInstanceOf[java.util.Map[_, _]].asScala
                .map { case (k, v) => k.toString -> v }.toMap
              graft.streaming.Monitoring.MvDef(
                mm.get("name").map(_.toString).getOrElse(throw YamlConfig.ConfigError(
                  "monitoring materialized_views entry missing 'name'")),
                mm.get("sql").map(_.toString),
                mm.get("sql_path").map(_.toString))
            }
            case _ => Nil
          },
          checkpointPath = m.get("checkpoint_path").map(_.toString).filter(_.nonEmpty),
          maxConcurrentStreams = m.get("max_concurrent_streams") match {
            case Some(v) =>
              val n = try v.toString.toInt catch {
                case _: NumberFormatException => throw YamlConfig.ConfigError(
                  s"lhp.yaml 'monitoring.max_concurrent_streams' must be an " +
                    s"integer, got '$v'")
              }
              // the reference pydantic bound (ge=1, le=20), kept loud
              if (n < 1 || n > 20) throw YamlConfig.ConfigError(
                s"lhp.yaml 'monitoring.max_concurrent_streams' must be in " +
                  s"1..20, got $n")
              n
            case None => 10
          },
          jobConfigPath = m.get("job_config_path").map(_.toString),
          enableJobMonitoring = m.get("enable_job_monitoring")
            .exists(boolIn("monitoring", "enable_job_monitoring", _)))
      },
      requiredLhpVersion = manifest.get("required_lhp_version").map(_.toString),
      testReporting = subMap(manifest, "test_reporting").map { m =>
        def req(k: String) = m.get(k).map(_.toString).getOrElse(
          throw YamlConfig.ConfigError(s"lhp.yaml 'test_reporting.$k' is required"))
        TestReportingCfg(req("module_path"), req("function_name"),
          m.get("config_file").map(_.toString))
      })
  }

  /** Reference defaults (core/discovery/blueprint_discoverer.py:26-27). */
  private[config] val DefaultBlueprintPatterns =
    Seq("blueprints/**/*.yaml", "blueprints/**/*.yml")
  private[config] val DefaultInstancePatterns =
    Seq("pipelines/**/*.yaml", "pipelines/**/*.yml")

  /** Include-pattern list with the reference's loud type validation
    * (_include_patterns_parser.py CFG_003/004): must be a YAML list of
    * strings — a bare string or a list with non-string entries names the
    * key instead of half-working. */
  private def strListIn(manifest: Map[String, Any], key: String): Seq[String] =
    manifest.get(key) match {
      case None => Nil
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
        case s: String => s
        case other => throw YamlConfig.ConfigError(
          s"lhp.yaml '$key' entries must be strings, got: $other")
      }
      case Some(other) => throw YamlConfig.ConfigError(
        s"lhp.yaml '$key' must be a list of glob patterns, got: $other")
    }

  private def subMap(manifest: Map[String, Any], key: String): Option[Map[String, Any]] =
    manifest.get(key).collect {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap
    }

  /** Loud manifest boolean: a typo'd `enabled: maybe` names its block and
    * key instead of surfacing as a bare IllegalArgumentException (the same
    * contract YamlConfig.boolOf gives action fields). */
  private def boolIn(block: String, key: String, v: Any): Boolean =
    v.toString.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw YamlConfig.ConfigError(
        s"lhp.yaml '$block.$key' must be true or false, got '$other'")
    }

  /** `uc_tagging.<key>` boolean with the reference's on-by-default posture
    * (an absent block behaves as the defaults). */
  private def ucTagging(manifest: Map[String, Any], key: String, default: Boolean): Boolean =
    manifest.get("uc_tagging") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.collectFirst { case (k, v) if k.toString == key =>
          boolIn("uc_tagging", key, v) }.getOrElse(default)
      case _ => default
    }

  /** `operational_metadata.columns.<name>` (reference MetadataColumnConfig):
    * `expression` is written as PySpark in the reference manifest — the
    * common `F.*` forms translate mechanically to Spark SQL, anything else
    * must already be a Spark SQL expression string. `applies_to` scopes the
    * column to target types (reference default: the two write kinds only —
    * a column must opt into `view` to land on loads/transforms) and a bad
    * entry is loud; `enabled: false` removes the column from the catalog.
    * `description` / `additional_imports` are doc/codegen-only. */
  private[config] def parseOpMeta(manifest: Map[String, Any])
      : Map[String, graft.operators.OperationalMetadata.ColumnDef] = {
    import graft.operators.OperationalMetadata.{ColumnDef, TargetTypes}
    val om = manifest.get("operational_metadata") match {
      case Some(m: java.util.Map[_, _]) => m.asScala.map { case (k, v) => k.toString -> v }.toMap
      case _ => Map.empty[String, Any]
    }
    om.get("columns") match {
      case Some(cols: java.util.Map[_, _]) => cols.asScala.flatMap {
        case (name, cfg: java.util.Map[_, _]) =>
          val m = cfg.asScala.map { case (k, v) => k.toString -> v }.toMap
          // a column with no (or a typo'd) `expression` key must refuse by
          // name — silently dropping it writes every table WITHOUT the
          // audit column the user declared (the loud-config posture the
          // applies_to check below already enforces)
          if (!m.contains("expression")) throw YamlConfig.ConfigError(
            s"operational_metadata column '$name' has no 'expression' key " +
              s"(found: ${m.keys.toSeq.sorted.mkString(", ")})")
          m.get("expression").map { e =>
            val appliesTo = m.get("applies_to") match {
              case Some(l: java.util.List[_]) =>
                val ts = l.asScala.toSeq.map(_.toString).toSet
                val bad = ts -- TargetTypes
                if (bad.nonEmpty) throw YamlConfig.ConfigError(
                  s"operational_metadata column '$name': applies_to " +
                    s"${bad.mkString(", ")} not in ${TargetTypes.toSeq.sorted.mkString(", ")}")
                ts
              case _ => ColumnDef(expression = "").appliesTo // reference default
            }
            name.toString -> ColumnDef(pysparkToSql(e.toString), appliesTo,
              enabled = m.get("enabled").forall(
                boolIn(s"operational_metadata.columns.$name", "enabled", _)))
          }
        case _ => None
      }.toMap
      case _ => Map.empty
    }
  }

  private val FCol = """F\.col\(['"]([^'"]+)['"]\)""".r
  private val FCall = """F\.([A-Za-z_][A-Za-z0-9_]*)\(\)""".r

  private[config] def pysparkToSql(e: String): String = {
    val colsDone = FCol.replaceAllIn(e, m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
    FCall.replaceAllIn(colsDone, m => s"${m.group(1)}()")
  }

  /** Files under `root` matched by project-root-relative glob patterns
    * (the reference's `discover_files_with_patterns`). Recursive — the
    * default blueprint/instance patterns are `**` globs, and a flat
    * listing silently ignored nested definition files. */
  private[config] def globFiles(root: Path, patterns: Seq[String]): Seq[Path] = {
    val fs = root.getFileSystem
    // pathlib-style `**` matches ZERO or more directories; Java's glob
    // needs the zero-dir variant spelled out or `blueprints/**/*.yaml`
    // silently skips top-level blueprint files
    val expanded = patterns.flatMap(p =>
      if (p.contains("/**/")) Seq(p, p.replace("/**/", "/")) else Seq(p)).distinct
    val matchers = expanded.map(g => fs.getPathMatcher(s"glob:$g"))
    // walk only each pattern's static prefix directory (e.g. `blueprints/`
    // for `blueprints/**/*.yaml`) — walking the whole project root touches
    // .git and any nested warehouse for nothing. Streams closed eagerly;
    // Files.walk otherwise holds directory fds until GC.
    val roots = expanded.map { p =>
      val static = p.takeWhile(c => c != '*' && c != '?' && c != '[')
      val dir = static.lastIndexOf('/') match {
        case -1 => ""
        case i => static.take(i)
      }
      root.resolve(dir)
    }.distinct.filter(Files.exists(_))
    roots.flatMap { r =>
      scala.util.Using.resource(Files.walk(r)) { s =>
        s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .filter(p => matchers.exists(_.matches(root.relativize(p))))
          .toList
      }
    }.distinct.sortBy(_.toString)
  }

  /** Name-keyed YAML registry over a file set. Two files declaring the
    * same `name:` is a LOUD error with both paths (reference VAL_046 for
    * blueprints) — a last-wins map silently drops whichever file sorts
    * first, the exact silent-absorption class this engine bans. */
  private def namedDocs(kind: String, files: Seq[Path]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, (Path, String)]()
    files.foreach { p =>
      val text = Files.readString(p)
      val name = new Yaml().load[Any](text) match {
        case m: java.util.Map[_, _] =>
          m.asScala.collectFirst { case (k, v) if k.toString == "name" => v.toString }
            .getOrElse(stripExt(p))
        case _ => stripExt(p)
      }
      out.get(name).foreach { case (first, _) =>
        throw YamlConfig.ConfigError(
          s"duplicate $kind name '$name':\n  - $first\n  - $p\n" +
            s"each $kind must have a unique name")
      }
      out(name) = (p, text)
    }
    out.map { case (n, (_, t)) => n -> t }.toMap
  }

  private def yamlFilesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala
        .filter(p => (p.toString.endsWith(".yaml") || p.toString.endsWith(".yml")) &&
          Files.isRegularFile(p))
        .toList.sortBy(_.toString)
    }

  private def yamlDocs(dir: Path): Map[String, String] = {
    val files = yamlFilesUnder(dir)
    val byName = namedDocs(dir.getFileName.toString.stripSuffix("s"), files)
    // nested documents are ALSO addressable by their dir-relative path
    // (reference e2e fixtures write `use_template:
    // ingestion/csv_ingestion_template` for a template whose `name:` is
    // just the leaf) — aliases never shadow a declared name
    val byPath = files.map { p =>
      dir.relativize(p).toString.replaceAll("\\.ya?ml$", "") -> Files.readString(p)
    }.toMap
    byPath ++ byName
  }

  /** `substitutions/<env>.yaml`: the env's token map lives under a
    * top-level key matching the env, plus an optional `global:` block of
    * tokens shared by every environment — env-specific values override
    * global ones (reference core/processing/substitution.py:116-137;
    * secrets config is separate). Booleans lowercase like the reference
    * (`True` → "true"). */
  private def loadSubstitutions(dir: Path): Map[String, Map[String, String]] =
    if (!Files.exists(dir)) Map.empty
    // Using.resource, like every other walk in this file — Files.list
    // otherwise holds the directory fd until GC
    else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(_.toString.endsWith(".yaml"))
      .map { p =>
        val env = stripExt(p)
        def tokenMap(v: Any): Map[String, String] = v match {
          case m: java.util.Map[_, _] => m.asScala.map {
            case (tk, tv: java.lang.Boolean) => tk.toString -> tv.toString.toLowerCase
            case (tk, tv) => tk.toString -> String.valueOf(tv)
          }.toMap
          case _ => Map.empty
        }
        val tokens = new Yaml().load[Any](Files.readString(p)) match {
          case m: java.util.Map[_, _] =>
            val root = m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap
            tokenMap(root.getOrElse("global", null)) ++
              tokenMap(root.getOrElse(env, null))
          case _ => Map.empty[String, String]
        }
        env -> tokens
      }.toMap)

  /** Build an env-var-backed secret provider honoring the substitution
    * file's `secrets:` block (reference secret-scope config): scope aliases
    * map through `scopes`, a missing scope falls back to `default_scope`,
    * and the resolved `SCOPE_KEY` (upper-cased) env var supplies the value. */
  def secretProvider(projectRoot: Path, env: String,
      readEnv: String => Option[String] = sys.env.get): Substitution.SecretProvider = {
    val sub = projectRoot.resolve(s"substitutions/$env.yaml")
    val cfg: Map[String, Any] =
      if (!Files.exists(sub)) Map.empty
      else new Yaml().load[Any](Files.readString(sub)) match {
        case m: java.util.Map[_, _] => m.asScala.collectFirst {
          case (k, v: java.util.Map[_, _]) if k.toString == "secrets" =>
            v.asScala.map { case (sk, sv) => sk.toString -> sv }.toMap
        }.getOrElse(Map.empty[String, Any])
        case _ => Map.empty
      }
    val defaultScope = cfg.get("default_scope").map(_.toString)
    val scopeAliases: Map[String, String] = cfg.get("scopes") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
      case _ => Map.empty
    }
    (scope, key) => {
      val real = scopeAliases.getOrElse(scope, defaultScope.getOrElse(scope))
      readEnv(s"${real.toUpperCase}_${key.toUpperCase}")
    }
  }

  private def stripExt(p: Path): String =
    p.getFileName.toString.replaceAll("\\.ya?ml$", "")
}
