package graft.plan

import org.scalatest.funsuite.AnyFunSuite

import graft.plan.DependencyAnalyzer.Graph

/** `Graph.generations` — the Kahn layering the orchestrator, the validate
  * CLI and the deps CLI schedule by — at scale and at its boundaries. */
class GraphGenerationsSpec extends AnyFunSuite {

  test("a 20 000-node graph of three generations layers exactly, in seconds") {
    // 10 000 sources; 5 000 middles reading two sources each; 5 000 sinks
    // reading two middles and a source: 25 000 edges. Rebuilding the node
    // set once per dependency checked made this minutes of work.
    val src = (0 until 10000).map(i => f"a$i%05d")
    val mid = (0 until 5000).map(i => f"b$i%05d")
    val top = (0 until 5000).map(i => f"c$i%05d")
    val edges: Map[String, Set[String]] =
      src.map(_ -> Set.empty[String]).toMap ++
        mid.indices.map(i => mid(i) -> Set(src(2 * i), src(2 * i + 1))) ++
        top.indices.map(i => top(i) -> Set(mid(i), mid((i + 1) % 5000), src(i)))
    val t0 = System.nanoTime()
    val gens = Graph(edges).generations
    val secs = (System.nanoTime() - t0) / 1e9
    assert(gens == Seq(src, mid, top))
    assert(secs < 10.0, f"generations took $secs%.1f s")
  }

  test("an empty graph has no generations") {
    assert(Graph(Map.empty).generations == Seq.empty)
  }

  test("nodes named only as dependencies form one first generation") {
    // x and y are not keys of `edges`: they are nodes with no dependencies
    val g = Graph(Map("a" -> Set("x", "y"), "b" -> Set("y")))
    assert(g.nodes == Set("a", "b", "x", "y"))
    assert(g.generations == Seq(Seq("x", "y"), Seq("a", "b")))
    assert(Graph(Map("a" -> Set.empty[String], "b" -> Set.empty[String]))
      .generations == Seq(Seq("a", "b")))
  }

  test("a cycle raises DEP_002 naming every node it blocks") {
    // c schedules; a and b wait on each other; d waits on a
    val g = Graph(Map("a" -> Set("b"), "b" -> Set("a"), "c" -> Set.empty[String],
      "d" -> Set("a", "c")))
    val e = intercept[Planner.PlanError](g.generations)
    assert(e.msg == graft.ErrorCodes.DEP_002("flowgroup dependency cycle: a, b, d"))
    val self = intercept[Planner.PlanError](Graph(Map("s" -> Set("s"))).generations)
    assert(self.msg == graft.ErrorCodes.DEP_002("flowgroup dependency cycle: s"))
  }
}
