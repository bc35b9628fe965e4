package graft.config

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import graft.model.FlowGroup

/** Full flowgroup resolution pipeline — the ordered phases of the reference's
  * FlowgroupResolutionService (core/processing/flowgroup_resolver.py:66-253):
  * local variables → template expansion → preset deep-merge (template-level
  * then flowgroup-level) → token substitution → unresolved-token validation →
  * parse. Substitution is textual (on YAML source), matching the reference.
  */
object FlowGroupResolver {

  final case class Template(name: String, defaults: Map[String, String], body: String)

  /** Parse a template document: `name`, `parameters: [{name, default}]`,
    * and the raw `actions:` block kept as text for `{{ param }}` rendering
    * (the reference renders templates with Jinja; our parameter surface is
    * `{{ name }}` substitution — template_engine.py's main path). */
  def parseTemplate(yamlText: String): Template = {
    val root = new Yaml().load[Any](yamlText).asInstanceOf[java.util.Map[String, Any]].asScala
    val name = root.get("name").map(_.toString).getOrElse("template")
    val defaults = root.get("parameters") match {
      case Some(l: java.util.List[_]) => l.asScala.flatMap {
        case m: java.util.Map[_, _] =>
          val mm = m.asScala.map { case (k, v) => k.toString -> v }
          // a value-less `default:` parses as null — treat as no-default
          // (Blueprint.parseBlueprintDoc guards the identical shape), not
          // an NPE from d.toString
          for (n <- mm.get("name"); d <- mm.get("default") if d != null)
            yield n.toString -> d.toString
        case _ => None
      }.toMap
      case _ => Map.empty[String, String]
    }
    Template(name, defaults, yamlText)
  }

  private val ParamPat = "\\{\\{\\s*([A-Za-z0-9_.-]+)\\s*\\}\\}".r

  /** Render `{{ param }}` placeholders with provided params over defaults.
    * COMMENT lines pass through unrendered: the reference renders with
    * Jinja over the raw text where an undefined name in a comment resolves
    * to empty and the YAML parse then discards the line — its doc fixtures
    * literally write "Jinja2 {{ param }} expressions" in template header
    * comments. Keeping the strict unresolved-parameter error for CONTENT
    * lines, where a typo'd name must not silently become empty. Known
    * limit: the check is line-based, so a '#'-leading line INSIDE a YAML
    * block scalar (content, not comment) is skipped too — params there
    * stay literal rather than erroring, the safer failure direction. */
  def renderTemplate(t: Template, params: Map[String, String]): String = {
    val all = t.defaults ++ params
    t.body.linesIterator.map { line =>
      if (line.dropWhile(_.isWhitespace).startsWith("#")) line
      else ParamPat.replaceAllIn(line, m =>
        java.util.regex.Matcher.quoteReplacement(
          all.getOrElse(m.group(1),
            throw Substitution.UnresolvedToken(m.group(1), s"template ${t.name}"))))
    }.mkString("\n")
  }

  /** Recursive deep merge: `overlay` wins on scalars; maps merge; action
    * lists merge positionally is wrong — the reference concatenates template
    * actions with flowgroup actions, and presets only contribute defaults, so
    * lists from the overlay replace lists from the base. */
  def deepMerge(base: Map[String, Any], overlay: Map[String, Any]): Map[String, Any] =
    (base.keySet ++ overlay.keySet).map { k =>
      k -> ((base.get(k), overlay.get(k)) match {
        case (Some(b: java.util.Map[_, _]), Some(o: java.util.Map[_, _])) =>
          mapToJava(deepMerge(javaToMap(b), javaToMap(o)))
        case (_, Some(o)) => o
        case (Some(b), None) => b
        case _ => null
      })
    }.toMap

  /** One project's templates, preset chains and blueprints, each parsed
    * (a preset chain: resolved) on first use and kept as long as the owner,
    * a [[Project]] value. Safe to share across threads. A failed parse is
    * never stored, so every flowgroup that names a broken document gets
    * its error. */
  final class Docs(templates: Map[String, String], presets: Map[String, String],
      blueprints: Map[String, String] = Map.empty) {
    private val parsedTemplates = new ConcurrentHashMap[String, Template]()
    private val chains = new ConcurrentHashMap[Seq[String], Map[String, Any]]()
    private val parsedBlueprints = new ConcurrentHashMap[String, Blueprint.BlueprintDoc]()

    def template(name: String): Template =
      parsedTemplates.computeIfAbsent(name, _ => parseTemplate(templates.getOrElse(name,
        throw YamlConfig.ConfigError(s"unknown template '$name'"))))

    def presetChain(names: Seq[String]): Map[String, Any] =
      chains.computeIfAbsent(names, _ => resolvePresetChain(names, presets))

    def blueprint(name: String): Option[Blueprint.BlueprintDoc] =
      blueprints.get(name).map(text =>
        parsedBlueprints.computeIfAbsent(name, _ => Blueprint.parseBlueprintDoc(text)))
  }

  /** Resolve a flowgroup YAML document to a parsed FlowGroup.
    *
    * @param templates preset template documents by name
    * @param presets   preset YAML documents by name (partial flowgroup maps,
    *                  deep-merged under the flowgroup — flowgroup wins)
    * @param tokens    environment token map for `{token}` / `${token}`
    */
  def resolve(yamlText: String,
      templates: Map[String, String] = Map.empty,
      presets: Map[String, String] = Map.empty,
      tokens: Map[String, String] = Map.empty,
      secrets: Substitution.SecretProvider = Substitution.envSecrets,
      lenient: Boolean = false): FlowGroup =
    resolveWith(yamlText, new Docs(templates, presets), tokens, secrets, lenient)

  /** [[resolve]] over a project's parse-once [[Docs]]. */
  private[config] def resolveWith(yamlText: String, docs: Docs,
      tokens: Map[String, String], secrets: Substitution.SecretProvider,
      lenient: Boolean): FlowGroup = {
    val yaml = new Yaml()
    val raw = javaToMap(yaml.load[Any](yamlText))

    // 1. local variables (textual %{var}) — a value-less key would
    // substitute the literal text "null"; refuse by name (the
    // template_parameters posture below)
    val vars = raw.get("variables") match {
      case Some(m: java.util.Map[_, _]) => javaToMap(m).map { case (k, v) =>
        if (v == null) throw YamlConfig.ConfigError(
          s"variables.$k is null — give it a value (it substitutes textually)")
        k -> String.valueOf(v)
      }
      case _ => Map.empty[String, String]
    }

    // 2. template expansion: rendered template actions are appended; the
    //    template's own presets apply FIRST (reference
    //    flowgroup_resolver.py:135-155). NOTE the override semantics are
    //    the reference's, asymmetric by action type: load/write sections
    //    DEEP-MERGE (later preset wins on conflicts), but transform and
    //    flowgroup-level keys FILL ABSENT ONLY (apply_preset_config:278-280
    //    `if key not in action`), so a template preset's transform fill-in
    //    deliberately blocks a flowgroup preset's value for the same key
    val (withTemplate: Map[String, Any], templatePresets: Seq[String]) =
      raw.get("use_template") match {
        case Some(tName) =>
          val template = docs.template(tName.toString)
          val params = raw.get("template_parameters") match {
            case Some(m: java.util.Map[_, _]) => javaToMap(m).map { case (k, v) =>
              // a value-less parameter would substitute the literal text
              // "null" into the rendered actions (String.valueOf) — refuse
              // by name instead, the Blueprint.parse posture for the same
              // textual-substitution surface
              if (v == null) throw YamlConfig.ConfigError(
                s"template_parameters.$k is null — give it a value " +
                  "(it substitutes textually into the template)")
              k -> String.valueOf(v)
            }
            case _ => Map.empty[String, String]
          }
          val rendered = javaToMap(yaml.load[Any](renderTemplate(template, params)))
          val tActions = rendered.get("actions").map(asList).getOrElse(Nil)
          val fgActions = raw.get("actions").map(asList).getOrElse(Nil)
          val merged = new java.util.ArrayList[Any]((tActions ++ fgActions).asJava)
          (raw + ("actions" -> merged),
            rendered.get("presets").map(asList).getOrElse(Nil).map(_.toString))
        case None => (raw, Nil)
      }

    // 3. presets: each chain resolves to its merged `defaults` config
    //    (with `extends` inheritance), then applies per-action-type sections
    //    (load_actions/transform_actions/write_actions) and flowgroup-level
    //    fill-ins — the reference's apply_preset_config semantics
    val fgPresetNames = withTemplate.get("presets").map(asList).getOrElse(Nil).map(_.toString)
    val mergedCfg = Seq(templatePresets, fgPresetNames)
      .filter(_.nonEmpty)
      .foldLeft(withTemplate) { (fg, chain) =>
        applyPresetConfig(fg, docs.presetChain(chain))
      }

    // 4. token/secret substitution, textually over the re-serialized document
    val text = yaml.dump(mapToJava(mergedCfg))
    val substituted = Substitution(text, vars, tokens, secrets)

    // 5. parse + (validation happens in Planner.validate at plan time)
    YamlConfig.parseFlowGroup(substituted, lenient)
  }

  /** Resolve a preset chain to one merged config: each preset file is
    * `{name, extends?, defaults: {...}}`; the chain merges each preset's
    * `defaults` (with `extends` inheritance, child winning) left to right
    * (reference: presets/preset_manager.py:34-96). */
  def resolvePresetChain(names: Seq[String], presets: Map[String, String]): Map[String, Any] = {
    def defaults(name: String, visited: Set[String]): Map[String, Any] = {
      if (visited(name))
        throw YamlConfig.ConfigError(s"circular preset inheritance at '$name'")
      val doc = javaToMap(new Yaml().load[Any](presets.getOrElse(name,
        throw YamlConfig.ConfigError(s"unknown preset '$name'"))))
      val own = doc.get("defaults") match {
        case Some(m: java.util.Map[_, _]) => javaToMap(m)
        case _ => Map.empty[String, Any]
      }
      doc.get("extends").map(_.toString) match {
        case Some(parent) => deepMerge(defaults(parent, visited + name), own)
        case None => own
      }
    }
    names.foldLeft(Map.empty[String, Any])((acc, n) => deepMerge(acc, defaults(n, Set.empty)))
  }

  /** Apply a resolved preset config to a flowgroup map: `load_actions.<type>`
    * deep-merges into matching loads' `source` (preset wins on leaves),
    * `transform_actions.<type>` fills missing transform keys,
    * `write_actions.<type>` deep-merges into matching `write_target`s, and
    * the remaining keys fill missing flowgroup-level fields (reference:
    * flowgroup_resolver.py:255-312). */
  def applyPresetConfig(fg: Map[String, Any], config: Map[String, Any]): Map[String, Any] = {
    def section(key: String): Map[String, Any] = config.get(key) match {
      case Some(m: java.util.Map[_, _]) => javaToMap(m)
      case _ => Map.empty
    }
    def sub(m: Map[String, Any], key: String): Option[Map[String, Any]] = m.get(key) match {
      case Some(j: java.util.Map[_, _]) => Some(javaToMap(j))
      case _ => None
    }
    val actions = fg.get("actions").map(asList).getOrElse(Nil).map { a =>
      val am = javaToMap(a)
      val merged = am.get("type").map(_.toString) match {
        case Some("load") =>
          (for {
            src <- sub(am, "source")
            t <- src.get("type").map(_.toString)
            d <- sub(section("load_actions"), t)
          } yield am + ("source" -> mapToJava(deepMerge(src, d)))).getOrElse(am)
        case Some("transform") =>
          (for {
            t <- am.get("transform_type").map(_.toString)
            d <- sub(section("transform_actions"), t)
          } yield d.foldLeft(am) { case (acc, (k, v)) =>
            if (acc.contains(k)) acc else acc + (k -> v)
          }).getOrElse(am)
        case Some("write") =>
          (for {
            wt <- sub(am, "write_target")
            t <- wt.get("type").map(_.toString)
            d <- sub(section("write_actions"), t)
          } yield am + ("write_target" -> mapToJava(applySuffix(deepMerge(wt, d))))).getOrElse(am)
        case _ => am
      }
      mapToJava(merged): Any
    }
    val withActions =
      if (actions.isEmpty) fg
      else fg + ("actions" -> new java.util.ArrayList[Any](actions.asJava))
    val flowLevel = config -- Seq("load_actions", "transform_actions", "write_actions")
    flowLevel.foldLeft(withActions) { case (acc, (k, v)) =>
      if (!acc.contains(k)) acc + (k -> v)
      // operational_metadata UNIONS across preset and flowgroup levels
      // (reference metadata.py:225-228 folds every level's names into one
      // selection) — plain fill-in would silently drop the preset's columns
      // whenever the flowgroup names its own
      else if (k == "operational_metadata") acc + (k -> unionOpMeta(acc(k), v))
      else acc
    }
  }

  // ------------------------------------------------------------------ java

  /** Preset `schema_suffix` on a write target (reference
    * flowgroup_resolver.py:315-351 `_apply_suffix`): append the suffix to
    * the target's `schema` (or legacy `database`) qualifier — how the
    * reference presets derive env-specific schemas. `database_suffix` is
    * the reference's soft-deprecated spelling (LHP-DEPR-004): honored with
    * a warning, `schema_suffix` winning when both appear. The suffix keys
    * are consumed here — they are resolver directives, not write-target
    * options. Note: a suffix preset listed at BOTH the template and the
    * flowgroup level appends twice — matching the reference, whose two
    * apply_preset_config passes (flowgroup_resolver.py:134-155) each run
    * _apply_suffix. */
  private def applySuffix(merged: Map[String, Any]): Map[String, Any] = {
    val schemaSuffix = merged.get("schema_suffix").map(_.toString).filter(_.nonEmpty)
    val dbSuffix = merged.get("database_suffix").map(_.toString).filter(_.nonEmpty)
    val cleaned = merged -- Seq("schema_suffix", "database_suffix")
    schemaSuffix.orElse(dbSuffix) match {
      case None => cleaned
      case Some(suffix) =>
        if (schemaSuffix.isEmpty && dbSuffix.isDefined)
          graft.Log.warn("preset 'database_suffix' is deprecated " +
            s"(reference LHP-DEPR-004) — use schema_suffix; '$suffix' applied")
        if (cleaned.contains("schema"))
          cleaned + ("schema" -> (cleaned("schema").toString + suffix))
        else if (cleaned.contains("database"))
          cleaned + ("database" -> (cleaned("database").toString + suffix))
        else cleaned
    }
  }

  /** Union two operational_metadata selections (flowgroup value first):
    * `true` at either level selects everything; `false` contributes no
    * names (it does NOT veto the other level — only an ACTION-level false
    * disables injection, per reference resolve_metadata_selection); lists
    * union. */
  private def unionOpMeta(fgVal: Any, presetVal: Any): Any = {
    // None = "all columns" (true); Some(names) = that set (false = none)
    def names(v: Any): Option[Seq[String]] = v match {
      case b: java.lang.Boolean => if (b) None else Some(Nil)
      case l: java.util.List[_] => Some(l.asScala.toSeq.map(_.toString))
      case _ => Some(Nil)
    }
    (names(fgVal), names(presetVal)) match {
      case (None, _) | (_, None) => java.lang.Boolean.TRUE
      case (Some(a), Some(b)) =>
        val u = (a ++ b).distinct
        // both levels opted out (or contributed nothing): the union must
        // re-serialize as FALSE — an empty YAML list would re-parse as
        // Enabled(Nil) = ALL columns, inverting a double opt-out into full
        // injection
        if (u.isEmpty) java.lang.Boolean.FALSE
        else new java.util.ArrayList[String](u.asJava)
    }
  }

  private def javaToMap(o: Any): Map[String, Any] = o match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v }.toMap
    case null => Map.empty
    case other => throw YamlConfig.ConfigError(s"expected map, got $other")
  }
  private def mapToJava(m: Map[String, Any]): java.util.Map[String, Any] = {
    val jm = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, v) => jm.put(k, v) }
    jm
  }
  private def asList(o: Any): Seq[Any] = o match {
    case l: java.util.List[_] => l.asScala.toSeq
    case _ => Nil
  }
}
