package graft.config

import java.nio.file.{Files, Path}

import graft.{SparkSuite, ValidateProject}
import graft.model.{MaterializedViewWrite, SqlTransform}
import graft.plan.DependencyAnalyzer

/** The parse-once memos live exactly as long as what owns them: a
  * [[Project]] value's parsed templates, preset chains and blueprints, and
  * an action's stored inputs. Nothing may answer for a different
  * environment, a newer file on disk, a different key — or remember a
  * failure. */
class ParseOnceSpec extends SparkSuite {

  private def project(files: (String, String)*): Path = {
    val root = Files.createTempDirectory("graft-parse-once")
    files.foreach { case (rel, text) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    root
  }

  private val base = Seq(
    "lhp.yaml" -> "name: parse_once\n",
    "substitutions/dev.yaml" -> "dev:\n  schema: gold_dev\n",
    "substitutions/prd.yaml" -> "prd:\n  schema: gold_prd\n",
    "presets/owned.yaml" ->
      """name: owned
        |defaults:
        |  write_actions:
        |    materialized_view:
        |      table_properties: {owner: team_a}
        |""".stripMargin,
    "templates/mv.yaml" ->
      """name: mv
        |parameters:
        |  - {name: t}
        |presets: [owned]
        |actions:
        |  - name: w_{{ t }}
        |    type: write
        |    write_target: {type: materialized_view, schema: "{schema}", table: "{{ t }}"}
        |    sql: "SELECT 1 AS x"
        |""".stripMargin)

  private def usesTemplate(template: String, t: String) =
    s"""pipeline: p
       |flowgroup: fg_$t
       |use_template: $template
       |template_parameters: {t: $t}
       |""".stripMargin

  private def mvs(fgs: Seq[graft.model.FlowGroup]) =
    fgs.flatMap(_.actions).collect { case w: MaterializedViewWrite => w }

  test("one Project value resolves each environment with that environment's tokens") {
    val dir = project(base :+ ("pipelines/a.yaml" ->
      Seq("a1", "a2").map(usesTemplate("mv", _)).mkString("---\n")): _*)
    val p = Project.load(dir.toString)
    val dev = p.flowgroups("dev")
    val prd = p.flowgroups("prd")
    assert(mvs(dev).map(_.table) == Seq("gold_dev.a1", "gold_dev.a2"))
    assert(mvs(prd).map(_.table) == Seq("gold_prd.a1", "gold_prd.a2"))
    assert(p.flowgroups("dev") == dev)
  }

  test("Project.load after a preset file is edited sees the edit") {
    val dir = project(base :+ ("pipelines/a.yaml" -> usesTemplate("mv", "a1")): _*)
    val before = Project.load(dir.toString)
    val owner = (fgs: Seq[graft.model.FlowGroup]) =>
      mvs(fgs).map(_.tableProperties.get("owner"))
    assert(owner(before.flowgroups("dev")) == Seq(Some("team_a")))
    Files.writeString(dir.resolve("presets/owned.yaml"),
      """name: owned
        |defaults:
        |  write_actions:
        |    materialized_view:
        |      table_properties: {owner: team_b}
        |""".stripMargin)
    assert(owner(Project.load(dir.toString).flowgroups("dev")) == Seq(Some("team_b")))
    // the value loaded before the edit keeps the text it was loaded with
    assert(owner(before.flowgroups("dev")) == Seq(Some("team_a")))
  }

  test("an unknown template or a circular preset fails every flowgroup that names it") {
    val circular = Seq(
      "presets/loop_a.yaml" -> "name: loop_a\nextends: loop_b\ndefaults: {}\n",
      "presets/loop_b.yaml" -> "name: loop_b\nextends: loop_a\ndefaults: {}\n")
    def inLoop(t: String) =
      s"""pipeline: p
         |flowgroup: fg_$t
         |presets: [loop_a]
         |actions:
         |  - {name: w_$t, type: write, write_target: {type: materialized_view, table: $t}, sql: "SELECT 1 AS x"}
         |""".stripMargin
    val dir = project(base ++ circular ++ Seq(
      "pipelines/a.yaml" -> usesTemplate("nope", "a1"),
      "pipelines/b.yaml" -> Seq("b1", "b2").map(usesTemplate("nope", _)).mkString("---\n"),
      "pipelines/c.yaml" -> inLoop("c1"),
      "pipelines/d.yaml" -> Seq("d1", "d2").map(inLoop).mkString("---\n")): _*)
    val p = Project.load(dir.toString)
    val expected = Seq(
      "a" -> "unknown template 'nope'", "b" -> "unknown template 'nope'",
      "c" -> "circular preset inheritance at 'loop_a'",
      "d" -> "circular preset inheritance at 'loop_a'")
    (1 to 2).foreach { round =>
      expected.foreach { case (f, msg) =>
        val e = intercept[YamlConfig.ConfigError](
          p.resolvePipelineFile(dir.resolve(s"pipelines/$f.yaml"), "dev"))
        assert(e.msg == msg, s"round $round, $f.yaml")
      }
    }
    val (ok, issues) = ValidateProject.validate(spark, dir.toString, "dev")
    assert(ok == 0)
    assert(issues.map(i => (i.context, i.message)) == expected.map { case (f, msg) =>
      dir.resolve(s"pipelines/$f.yaml").toString -> msg })
  }

  test("an action's stored inputs answer only the key they were derived under") {
    // the same relative sql_path names a different file under each root
    val r1 = project("q.sql" -> "SELECT * FROM t_one")
    val r2 = project("q.sql" -> "SELECT * FROM t_two JOIN t_three USING (id)")
    val a = SqlTransform("t", Some("v_out"), Seq("v_in"), sql = "", sqlPath = Some("q.sql"),
      dependsOn = Seq("declared"))
    def inputs(root: Path, trust: Boolean = false, session: org.apache.spark.sql.SparkSession = spark) =
      DependencyAnalyzer.actionInputs(session, a, trust, root.toString)
    assert(inputs(r1) == Seq("v_in", "t_one", "declared"))
    assert(inputs(r2) == Seq("v_in", "t_two", "t_three", "declared"))
    assert(inputs(r2, trust = true) == Seq("v_in", "declared"))
    assert(inputs(r1) == Seq("v_in", "t_one", "declared"))
    // another session's parser derives afresh and takes the slot over
    val other = spark.newSession()
    assert(inputs(r1, session = other) == Seq("v_in", "t_one", "declared"))
    assert(a.inputsSlot.parser eq other.sessionState.sqlParser)
    assert(inputs(r1) == Seq("v_in", "t_one", "declared"))
    assert(a.inputsSlot.parser eq spark.sessionState.sqlParser)
  }

  test("a filled inputs slot leaves equality, hashCode, copy and serialization alone") {
    val a = SqlTransform("t", Some("v_out"), Seq("v_in"), sql = "SELECT * FROM t_one")
    assert(DependencyAnalyzer.actionInputs(spark, a) == Seq("v_in", "t_one"))
    assert(a.inputsSlot != null)
    val c = a.copy()
    assert(a == c && c == a && a.hashCode == c.hashCode)
    assert(c.inputsSlot == null)
    // the slot holds the session's parser, which must not travel with the
    // action
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(a)
    out.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back == a)
    assert(back.asInstanceOf[SqlTransform].inputsSlot == null)
  }
}
