package graft.config

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import graft.model.FlowGroup

/** Blueprints: programmatic flowgroup factories (reference:
  * src/lhp/parsers/blueprint_parser.py, models/_blueprint.py:16-70 — used to
  * expand 600 synthetic flowgroups in the perf fixture).
  *
  * A blueprint document carries a flowgroup *template body* plus a list of
  * `instances` (parameter maps); expansion renders the body once per
  * instance through the same `{{ param }}` substitution as action templates.
  *
  * ```yaml
  * blueprint: ingest_family
  * instances:
  *   - {table: customer, format: csv}
  *   - {table: orders, format: json}
  * flowgroup_template: |
  *   pipeline: bronze
  *   flowgroup: ingest_{{ table }}
  *   actions: ...
  * ```
  */
object Blueprint {

  final case class Doc(name: String, instances: Seq[Map[String, String]], body: String)

  def parse(yamlText: String): Doc = {
    val root = new Yaml().load[Any](yamlText).asInstanceOf[java.util.Map[String, Any]]
      .asScala.map { case (k, v) => k.toString -> v }.toMap
    val instances = root.get("instances") match {
      // an explicit 'instances: []' is the same silent-vanishing failure
      // as a missing key — zero flowgroups with no error — refuse it too
      case Some(l: java.util.List[_]) if l.isEmpty =>
        throw YamlConfig.ConfigError(
          "blueprint 'instances' is an EMPTY list — a blueprint with no " +
            "instances expands to zero flowgroups (its pipelines would " +
            "silently vanish from the run); list at least one instance " +
            "or delete the blueprint file")
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
        case m: java.util.Map[_, _] =>
          m.asScala.map {
            // a null instance value would substitute the literal text
            // "null" into the rendered flowgroup — refuse by name
            case (k, null) => throw YamlConfig.ConfigError(
              s"blueprint instance parameter '$k' is null — every " +
                "parameter needs a value (it substitutes textually)")
            case (k, v) => k.toString -> String.valueOf(v)
          }.toMap
        case other => throw YamlConfig.ConfigError(s"blueprint instance must be a map: $other")
      }
      // missing, typo'd, or non-list 'instances' must not silently expand
      // to ZERO flowgroups — the blueprint's pipelines would vanish from
      // the run with no error (the silent-config class this package
      // refuses everywhere else)
      case Some(other) => throw YamlConfig.ConfigError(
        s"blueprint 'instances' must be a LIST of parameter maps, got: $other")
      case None => throw YamlConfig.ConfigError(
        "blueprint missing 'instances' — a blueprint with no instances " +
          "expands to nothing; list at least one parameter map")
    }
    Doc(
      root.get("blueprint").map(_.toString).getOrElse("blueprint"),
      instances,
      root.get("flowgroup_template").map(_.toString)
        .getOrElse(throw YamlConfig.ConfigError("blueprint missing 'flowgroup_template'")))
  }

  /** Expand a blueprint into concrete flowgroups via the shared resolution
    * pipeline (templates/presets/tokens still apply per instance). */
  def expand(doc: Doc,
      templates: Map[String, String] = Map.empty,
      presets: Map[String, String] = Map.empty,
      tokens: Map[String, String] = Map.empty): Seq[FlowGroup] =
    doc.instances.map { params =>
      val rendered = FlowGroupResolver.renderTemplate(
        FlowGroupResolver.Template(doc.name, Map.empty, doc.body), params)
      FlowGroupResolver.resolve(rendered, templates, presets, tokens)
    }

  // ------------------------------------------------- reference file shapes

  /** The reference's blueprint document (models/_blueprint.py:42-54):
    * `name` + `parameters: [{name, required, default}]` + `flowgroups:` —
    * flowgroup specs whose strings carry `%{param}` placeholders. */
  final case class BlueprintDoc(
      name: String,
      required: Seq[String],
      defaults: Map[String, String],
      flowgroupSpecs: Seq[java.util.Map[String, Any]]) {
    /** Each spec as YAML source, dumped once per parsed document. */
    lazy val specTexts: Seq[String] = {
      val yaml = new Yaml()
      flowgroupSpecs.map(yaml.dump(_))
    }
  }

  def parseBlueprintDoc(yamlText: String): BlueprintDoc = {
    val root = new Yaml().load[Any](yamlText).asInstanceOf[java.util.Map[String, Any]]
      .asScala.map { case (k, v) => k.toString -> v }.toMap
    val paramDefs = root.get("parameters") match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.collect {
        case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v }.toMap
      }
      case _ => Nil
    }
    BlueprintDoc(
      name = root.get("name").map(_.toString)
        .getOrElse(throw YamlConfig.ConfigError("blueprint missing 'name'")),
      required = paramDefs.filter(_.get("required").exists(_.toString.toBoolean))
        .flatMap(_.get("name")).map(_.toString),
      defaults = paramDefs.flatMap(p =>
        for (n <- p.get("name"); d <- p.get("default") if d != null)
          yield n.toString -> d.toString).toMap,
      flowgroupSpecs = root.get("flowgroups") match {
        case Some(l: java.util.List[_]) => l.asScala.toSeq.map(
          _.asInstanceOf[java.util.Map[String, Any]])
        case _ => throw YamlConfig.ConfigError(s"blueprint missing 'flowgroups'")
      })
  }

  /** Instantiate a reference-shape blueprint: render every flowgroup spec's
    * `%{param}` placeholders with the instance parameters (unknown `%{}`
    * stay for the resolver's flowgroup-local variable pass), then run each
    * through the full resolution pipeline. */
  def expandBlueprintDoc(doc: BlueprintDoc, params: Map[String, String],
      templates: Map[String, String] = Map.empty,
      presets: Map[String, String] = Map.empty,
      tokens: Map[String, String] = Map.empty,
      secrets: Substitution.SecretProvider = Substitution.envSecrets,
      lenient: Boolean = false): Seq[FlowGroup] =
    expandWith(doc, params, new FlowGroupResolver.Docs(templates, presets), tokens,
      secrets, lenient)

  /** [[expandBlueprintDoc]] over a project's parse-once documents. */
  private[config] def expandWith(doc: BlueprintDoc, params: Map[String, String],
      docs: FlowGroupResolver.Docs, tokens: Map[String, String],
      secrets: Substitution.SecretProvider, lenient: Boolean): Seq[FlowGroup] = {
    val missing = doc.required.filterNot(params.contains)
    if (missing.nonEmpty) throw YamlConfig.ConfigError(
      s"blueprint '${doc.name}' missing required parameter(s): ${missing.mkString(", ")}")
    val all = doc.defaults ++ params
    doc.specTexts.map { text =>
      val rendered = Substitution.substituteVarsPartial(text, all)
      FlowGroupResolver.resolveWith(rendered, docs, tokens, secrets, lenient)
    }
  }
}
