package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.ValidateProject
import graft.config.Project
import graft.model.{Action, FlowGroup}
import graft.plan.{DependencyAnalyzer, Planner}

/** Metadata plane: one op is what `ValidateProject.validate` does to a
  * project — `Project.load`, `flowgroups(env)`, `Planner.plan` on every
  * flowgroup with `DependencyAnalyzer.actionInputs`, then
  * `flowgroupGraph(...).generations`. Every op, warm-ups included, gets a
  * project copy of its own (same shape, distinct seed), so a cache kept
  * across ops can never turn a resolve into a lookup. */
final class ResolveBlueprint(spark: SparkSession, work: Path, seed: Long,
    trace: Trace) extends Workload {

  val warmups = 6
  def ops(seconds: Int): Int = math.max(8, seconds / 3)

  private var copies: IndexedSeq[(Path, BlueprintGen.Expected)] = IndexedSeq.empty
  private final case class Result(fgs: Seq[FlowGroup],
      edges: Map[String, Set[String]], generations: Int)
  private val results = scala.collection.mutable.Map[Int, Result]()
  private var inputsCalls = 0L
  /** flowgroups, actions, edges and generations the last checked op found */
  private var found = Seq(0.0, 0.0, 0.0, 0.0)

  def setup(nOps: Int): Unit = {
    copies = (0 until warmups + nOps).map { i =>
      val dir = work.resolve(s"projects/copy_$i")
      dir -> BlueprintGen.write(dir, seed * 7919L + i)
    }
    (0 until warmups).foreach { w => trace.beginOp(-1 - w); resolve(w, -1 - w) }
    results.clear()
  }

  private def resolve(copy: Int, id: Int): Unit = {
    val dir = copies(copy)._1.toString
    val project = trace.span("config.load")(Project.load(dir))
    val fgs = trace.span("config.resolve")(project.flowgroups("dev"))
    val inputs: Action => Seq[String] = a => trace.span("plan.inputs") {
      inputsCalls += 1
      DependencyAnalyzer.actionInputs(spark, a, projectRoot = dir)
    }
    trace.span("plan.plan")(fgs.foreach(fg => Planner.plan(fg, inputs)))
    val (graph, generations) = trace.span("plan.graph") {
      val g = DependencyAnalyzer.flowgroupGraph(spark, fgs, projectRoot = dir)
      (g, g.generations)
    }
    results(id) = Result(fgs, graph.edges, generations.size)
  }

  def op(i: Int): Unit = resolve(warmups + i, i)

  def check(i: Int): Seq[String] = {
    val exp = copies(warmups + i)._2
    val r = results.remove(i).get
    val actions = r.fgs.map(_.actions.size).sum
    val pipelines = r.fgs.map(_.pipeline).toSet
    found = Seq(r.fgs.size, actions, r.edges.values.map(_.size).sum,
      r.generations).map(_.toDouble)
    Seq(
      Option.when(r.fgs.size != exp.flowgroups)(
        s"op $i: ${r.fgs.size} flowgroups, generator made ${exp.flowgroups}"),
      Option.when(actions != exp.actions)(
        s"op $i: $actions actions, generator made ${exp.actions}"),
      Option.when(pipelines != exp.pipelines)(
        s"op $i: pipelines ${pipelines.toSeq.sorted} != ${exp.pipelines.toSeq.sorted}"),
      Option.when(r.edges != exp.edges)({
        val missing = exp.edges.toSeq.flatMap { case (n, ds) =>
          (ds -- r.edges.getOrElse(n, Set.empty)).map(d => s"$n->$d") }
        val extra = r.edges.toSeq.flatMap { case (n, ds) =>
          (ds -- exp.edges.getOrElse(n, Set.empty)).map(d => s"$n->$d") }
        s"op $i: flowgroup edges differ: missing ${missing.take(3)}, extra ${extra.take(3)}"
      }),
      Option.when(r.generations != exp.generations)(
        s"op $i: ${r.generations} generations, generator made ${exp.generations}"),
    ).flatten
  }

  /** The engine's own validate CLI pass over the first timed copy. */
  override def finish(): Seq[String] = {
    val dir = copies(warmups)._1.toString
    val (ok, issues) = ValidateProject.validate(spark, dir, "dev")
    issues.map(i => s"validate: [${i.code}] ${i.context}: ${i.message}") ++
      Option.when(ok != copies(warmups)._2.flowgroups)(
        s"validate: $ok flowgroups ok, generator made ${copies(warmups)._2.flowgroups}")
  }

  override def layerMetrics(nOps: Int): Map[String, Double] = Map(
    "config.files" -> copies(warmups)._2.files.toDouble,
    "config.flowgroups" -> found(0),
    "config.actions" -> found(1),
    "plan.inputs_calls" -> inputsCalls.toDouble / (warmups + nOps),
    "plan.edges" -> found(2),
    "plan.generations" -> found(3))
}
