package graft.tools

/** Crash-forge fixture for the c15 sustained-crawl capstone and the
  * kill-point matrix: a SECOND JVM that runs one orchestrated generation
  * against a shared warehouse and HARD-HALTS (`Runtime.halt` — no shutdown
  * hooks, no stream cleanup, the closest in-process approximation of
  * SIGKILL) at a chosen point. The parent gate then resumes the same
  * project in-process and asserts the final tables are exactly-once anyway.
  *
  * args: `<warehouse> <checkpointRoot> <yamlDir> <haltSpec>` where haltSpec
  * selects the kill point:
  *   - `<table>` or `table:<table>`  — after the named table's write action
  *     completes (the c15 gate's dedup-commit point);
  *   - `batch:<table>:<n>`           — after microbatch `n`'s TABLE-side
  *     commit (before Spark's checkpoint records the batch — the
  *     nastiest window: on resume the batch REPLAYS and the table-side
  *     idempotence must absorb it), leaving the stream half-consumed
  *     (the mid-ingest point: a WARC landing file ingested, its sibling
  *     never read);
  *   - `forge:<point>`               — arms [[graft.exec.CrashForge]] so an
  *     operator's interior kill-point fires (e.g. `forge:bm25_fold` — index
  *     swapped, hits table never written: the double-fold window).
  *
  * Runs every `*.yaml` flowgroup in `yamlDir` (sorted) through the
  * orchestrator. Prints `HALTING after <table>` / `HALTING at <point>` just
  * before the halt so the parent can distinguish the forged crash (exit
  * 137) from a real failure (exit 1). */
object CrawlResumeChild {
  def main(args: Array[String]): Unit = {
    // `--server`: boot the JVM + Spark session FIRST, then block on stdin
    // for the four run args. The parent spawns the child eagerly so this
    // boot overlaps its own in-process work (generation 1 of the crawl) —
    // the run itself is unchanged: same session, same halt semantics.
    val runArgs =
      if (args.headOption.contains("--server")) {
        // touch the session so the boot genuinely happens before the
        // command arrives (getOrCreate below then no-ops)
        graft.GraftSession.builder("local[4]").getOrCreate(): Unit
        val line = Option(scala.io.StdIn.readLine()).getOrElse(
          sys.error("CrawlResumeChild --server: stdin closed before a command arrived"))
        line.trim.split('\u001f')
      } else args
    val Array(wh, cp, yamlDir, haltSpec) = runArgs
    val spark = graft.GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = new graft.exec.TableStore(spark, wh)
    def haltNow(marker: String): Unit = {
      println(marker)
      System.out.flush()
      Runtime.getRuntime.halt(137)
    }
    val halt: graft.exec.PipelineHooks = haltSpec.split(":", 3) match {
      case Array("forge", point) =>
        sys.props(graft.exec.CrashForge.prop) = point
        graft.exec.PipelineHooks.noop
      case Array("batch", table, n) => new graft.exec.PipelineHooks {
        override def onBatchCommitted(p: String, f: String, t: String,
            batchId: Long): Unit =
          if (t == table && batchId == n.toLong)
            haltNow(s"HALTING after $table batch $batchId")
      }
      case Array(t) => mkTableHalt(t, haltNow)
      case Array("table", t) => mkTableHalt(t, haltNow)
      case other => sys.error(s"unknown haltSpec '${other.mkString(":")}'")
    }
    // both extensions (the config plane's .yml-parity rule) and a loud
    // error for a missing dir — listFiles() returns null there, and the
    // resulting partial/empty project would print the misleading
    // 'halt hook never fired' instead of naming the real problem
    val fgFiles = Option(new java.io.File(yamlDir).listFiles()).getOrElse(
      sys.error(s"CrawlResumeChild: yamlDir '$yamlDir' does not exist"))
    val fgs = fgFiles
      .filter(f => f.getName.endsWith(".yaml") || f.getName.endsWith(".yml"))
      .sortBy(_.getName).toSeq
      .map(f => graft.config.YamlConfig.parseFlowGroup(
        java.nio.file.Files.readString(f.toPath)))
    val orch = new graft.exec.PipelineOrchestrator(spark, store, cp, hooks = halt)
    val outcomes = orch.run(fgs)
    outcomes.find(_.error.isDefined).foreach { o =>
      System.err.println(s"CHILD FAILED ${o.flowgroup}: ${o.error.get}")
      sys.exit(1)
    }
    println("CHILD COMPLETED (halt hook never fired)")
    sys.exit(0)
  }

  private def mkTableHalt(t: String,
      haltNow: String => Unit): graft.exec.PipelineHooks =
    new graft.exec.PipelineHooks {
      override def onTableWritten(p: String, f: String, table: String): Unit =
        if (table == t) haltNow(s"HALTING after $table")
    }

  /** Spawn this main in a child JVM (C1-only JIT — the child lives ~20 s
    * on gate-sized data) and wait: `(exitCode, combinedOutput)`. One
    * definition shared by the c15 gate and the kill-matrix spec so the
    * add-opens harvesting, classpath, and halt-marker contract cannot
    * drift apart. */
  def spawn(wh: String, cp: String, yamlDir: String,
      haltSpec: String): (Int, String) =
    ChildJvm.spawn("graft.tools.CrawlResumeChild", Seq(wh, cp, yamlDir, haltSpec))

  /** Eager variant: spawn the child in `--server` mode NOW (JVM + Spark
    * session boot proceed in the background) and hand back a handle whose
    * [[Pending.run]] sends the four run args and waits for the halt/exit.
    * The c15 gate spawns this before its in-process generation-1 run, so
    * the multi-second child boot overlaps real engine work instead of
    * sitting on the gate's critical path. */
  final class Pending private[CrawlResumeChild] (child: ChildJvm.AsyncChild) {
    def run(wh: String, cp: String, yamlDir: String,
        haltSpec: String): (Int, String) = {
      child.send(Seq(wh, cp, yamlDir, haltSpec).mkString("\u001f"))
      child.await()
    }
    /** Kill the child if it is still up — a gate that fails before
      * [[run]] must not leave a booted server JVM blocked on stdin. */
    def destroy(): Boolean = child.destroy()
  }

  def spawnEager(): Pending =
    new Pending(ChildJvm.spawnAsync("graft.tools.CrawlResumeChild",
      Seq("--server")))
}
