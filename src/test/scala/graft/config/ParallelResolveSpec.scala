package graft.config

import java.nio.file.{Files, Path}

import graft.{Log, SparkSuite, ValidateProject}
import graft.plan.{DependencyAnalyzer, Planner}

/** A pipeline file's documents resolve in parallel; what callers see —
  * flowgroup order, the error thrown, the warnings and the validate
  * report — must be what a one-document-at-a-time resolve gives. */
class ParallelResolveSpec extends SparkSuite {

  private val Sites = 48
  private val PipelineFiles = 4

  private def site(k: Int) = f"s$k%02d"

  /** Instance document for site `k`: three flowgroups (ingest, sum, cmp),
    * the cmp write going through a `database_suffix` preset so it warns. */
  private def instance(k: Int): String =
    s"""use_blueprint: site_family
       |parameters:
       |  site: ${site(k)}
       |  peer: ${site((k + 7) % Sites)}
       |  sfx: "${k % 5}"
       |""".stripMargin

  /** Flowgroups without a blueprint: a `flowgroups:` list of three
    * entries sharing `pipeline`, then two plain documents. */
  private val miscListEntries = Seq("m0", "m1", "m2")
  private def plain(name: String) =
    s"""pipeline: misc
       |flowgroup: $name
       |actions:
       |  - {name: load_$name, type: load, source: {type: sql, sql: "SELECT 1 AS x"}, target: v_$name}
       |  - name: write_$name
       |    type: write
       |    source: v_$name
       |    write_target: {type: materialized_view, catalog: "{catalog}", schema: misc, table: $name}
       |""".stripMargin
  private val miscList =
    "pipeline: misc\nflowgroups:\n" + miscListEntries.map(n =>
      plain(n).linesIterator.drop(1).zipWithIndex.map {
        case (l, 0) => s"  - $l"
        case (l, _) => s"    $l"
      }.mkString("\n")).mkString("\n") + "\n"

  /** Instance documents per pipeline file, in a shuffled but fixed order. */
  private val docOrder: Seq[Seq[Int]] =
    (0 until PipelineFiles).map(f => new scala.util.Random(f).shuffle((0 until Sites)
      .filter(_ % PipelineFiles == f).toList))

  private def writeProject(root: Path,
      pipelineFiles: Seq[(String, Seq[String])]): Path = {
    def put(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text): Unit
    }
    put("lhp.yaml", "name: parallel_resolve\n")
    put("substitutions/dev.yaml", "dev:\n  catalog: lake_dev\n  landing: /landing/dev\n")
    put("presets/base.yaml",
      """name: base
        |defaults:
        |  write_actions:
        |    streaming_table:
        |      table_properties: {layer: bronze}
        |""".stripMargin)
    (0 until 5).foreach(i => put(s"presets/sfx$i.yaml",
      s"""name: sfx$i
         |extends: base
         |defaults:
         |  write_actions:
         |    materialized_view:
         |      database_suffix: _s$i
         |""".stripMargin))
    put("templates/ingest.yaml",
      """name: ingest
        |parameters:
        |  - {name: site}
        |presets: [base]
        |actions:
        |  - name: load_{{ site }}
        |    type: load
        |    source: {type: cloudfiles, path: "{landing}/{{ site }}", format: json, readMode: stream}
        |    target: v_raw
        |  - name: write_{{ site }}
        |    type: write
        |    source: v_raw
        |    write_target: {type: streaming_table, catalog: "{catalog}", schema: bronze, table: "raw_{{ site }}"}
        |""".stripMargin)
    put("blueprints/site_family.yaml",
      """name: site_family
        |parameters:
        |  - {name: site, required: true}
        |  - {name: peer, required: true}
        |  - {name: sfx, required: true}
        |flowgroups:
        |  - pipeline: bronze
        |    flowgroup: "ingest_%{site}"
        |    use_template: ingest
        |    template_parameters: {site: "%{site}"}
        |  - pipeline: gold
        |    flowgroup: "sum_%{site}"
        |    actions:
        |      - name: "mv_sum_%{site}"
        |        type: write
        |        write_target: {type: materialized_view, catalog: "{catalog}", schema: gold, table: "sum_%{site}"}
        |        sql: "SELECT count(*) AS n FROM {catalog}.bronze.raw_%{site}"
        |  - pipeline: ops
        |    flowgroup: "cmp_%{site}"
        |    presets: ["sfx%{sfx}"]
        |    actions:
        |      - name: "mv_cmp_%{site}"
        |        type: write
        |        write_target: {type: materialized_view, database: "{catalog}.ops", table: "cmp_%{site}"}
        |        sql: "SELECT a.n - b.n AS d FROM {catalog}.gold.sum_%{site} a CROSS JOIN {catalog}.gold.sum_%{peer} b"
        |""".stripMargin)
    pipelineFiles.foreach { case (rel, docs) => put(rel, docs.mkString("---\n")) }
    root
  }

  /** Four files of twelve instance documents each, plus a file holding a
    * `flowgroups:` list and two plain documents. */
  private def multiDocFiles(instanceDoc: Int => String = instance(_)) =
    docOrder.zipWithIndex.map { case (ks, f) =>
      s"pipelines/sites_$f.yaml" -> ks.map(instanceDoc)
    } :+ ("pipelines/zz_misc.yaml" -> Seq(miscList, plain("m3"), plain("m4")))

  /** The same documents, one per file; the list entries become plain
    * documents, so nothing is left to resolve in parallel. */
  private def oneDocFiles = {
    val sites = docOrder.zipWithIndex.flatMap { case (ks, f) =>
      ks.zipWithIndex.map { case (k, d) => f"pipelines/sites_$f/d$d%02d.yaml" -> Seq(instance(k)) }
    }
    val misc = (miscListEntries ++ Seq("m3", "m4")).zipWithIndex.map { case (n, d) =>
      s"pipelines/zz_misc/d$d.yaml" -> Seq(plain(n)) }
    sites ++ misc
  }

  private def capture[A](body: => A): (A, Seq[String]) = {
    val ws = Vector.newBuilder[String]
    val out = Log.withSink(w => { ws += w; () })(body)
    (out, ws.result())
  }

  test("flowgroups and warnings come back in document order on every run") {
    val parallel = Project.load(writeProject(
      Files.createTempDirectory("graft-par"), multiDocFiles()).toString)
    val oneAtATime = Project.load(writeProject(
      Files.createTempDirectory("graft-seq"), oneDocFiles).toString)
    assert(parallel.resolutionFiles.size == PipelineFiles + 1)
    assert(oneAtATime.resolutionFiles.size == Sites + 5)

    val (expected, expectedWarnings) = capture(oneAtATime.flowgroups("dev"))
    // two warnings per instance document: the preset's database_suffix
    // (LHP-DEPR-004) and the write's 'database' redirect, which names it
    assert(expectedWarnings.size == 2 * Sites)
    val cmpOrder = docOrder.flatten.map(k => s"mv_cmp_${site(k)}")
    assert(expectedWarnings.collect {
      case w if w.startsWith("write '") => w.drop(7).takeWhile(_ != '\'')
    } == cmpOrder)
    assert(expectedWarnings.count(_.contains("LHP-DEPR-004")) == Sites)

    (1 to 5).foreach { run =>
      val (fgs, warnings) = capture(parallel.flowgroups("dev"))
      assert(fgs == expected, s"run $run")
      assert(warnings == expectedWarnings, s"run $run")
    }
    val ids = expected.map(fg => s"${fg.pipeline}.${fg.flowgroup}")
    val first = site(docOrder.head.head)
    assert(ids.take(3) == Seq(s"bronze.ingest_$first", s"gold.sum_$first", s"ops.cmp_$first"))
    assert(ids.takeRight(5) == Seq("m0", "m1", "m2", "m3", "m4").map("misc." + _))
  }

  test("the counts of the project are pinned") {
    val dir = writeProject(Files.createTempDirectory("graft-par"), multiDocFiles())
    val fgs = Project.load(dir.toString).flowgroups("dev")
    fgs.foreach(fg => Planner.plan(fg, DependencyAnalyzer.actionInputs(spark, _,
      projectRoot = dir.toString)))
    val g = DependencyAnalyzer.flowgroupGraph(spark, fgs, projectRoot = dir.toString)
    assert(fgs.size == 3 * Sites + 5)
    assert(fgs.map(_.actions.size).sum == 4 * Sites + 10)
    // sum -> ingest, cmp -> its own sum and its peer's
    assert(g.edges.values.map(_.size).sum == 3 * Sites)
    assert(g.edges(s"ops.cmp_${site(3)}") == Set(s"gold.sum_${site(3)}", s"gold.sum_${site(10)}"))
    assert(g.generations.map(_.size) == Seq(Sites + 5, Sites, Sites))
    assert(fgs.flatMap(_.actions).collect {
      case w: graft.model.MaterializedViewWrite if w.name == s"mv_cmp_${site(6)}" => w.table
    } == Seq(s"lake_dev.ops_s1.cmp_${site(6)}"))
  }

  test("of two failing documents the earlier one's error is thrown, every run") {
    // in sites_1.yaml, the second document names an unknown preset (it
    // fails at its third flowgroup) and the tenth lacks a required
    // parameter (it fails before any); the later failure is the cheaper
    // one, so it usually finishes first on the pool
    val f1 = docOrder(1)
    val (early, late) = (f1(1), f1(9))
    def unknownPreset(k: Int) = instance(k).replace(s"sfx: \"${k % 5}\"", "sfx: \"9\"")
    def missingParam(k: Int) =
      instance(k).linesIterator.filterNot(_.contains("peer:")).mkString("\n") + "\n"
    val dir = writeProject(Files.createTempDirectory("graft-par-err"), multiDocFiles {
      case k if k == early => unknownPreset(k)
      case k if k == late => missingParam(k)
      case k => instance(k)
    })
    val project = Project.load(dir.toString)
    (1 to 20).foreach { run =>
      val (e, warnings) = capture(intercept[YamlConfig.ConfigError](project.flowgroups("dev")))
      assert(e.msg == "unknown preset 'sfx9'", s"run $run")
      // files before sites_1 and the document before the failing one
      assert(warnings.size == 2 * (docOrder(0).size + 1), s"run $run")
    }
    val lateOnly = writeProject(Files.createTempDirectory("graft-par-err"), multiDocFiles {
      case k if k == late => missingParam(k)
      case k => instance(k)
    })
    assert(intercept[YamlConfig.ConfigError](Project.load(lateOnly.toString)
      .flowgroups("dev")).msg == "blueprint 'site_family' missing required parameter(s): peer")

    // validate attributes the failure to its file and still plans the rest
    val (ok, issues) = ValidateProject.validate(spark, dir.toString, "dev")
    assert(issues.map(i => (i.context, i.message)) == Seq(
      dir.resolve("pipelines/sites_1.yaml").toString -> "unknown preset 'sfx9'"))
    assert(ok == 3 * (Sites - docOrder(1).size) + 5)
  }
}
