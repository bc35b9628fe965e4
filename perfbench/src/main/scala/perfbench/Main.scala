package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.perfbench.Listeners

import graft.GraftSession

/** One workload of the benchmark: set-up (inputs and warm-ups), a fixed
  * number of timed ops, and output checks outside the timing. */
trait Workload {
  /** Ops per run: a function of the run length only, never of speed. */
  def ops(seconds: Int): Int
  def setup(nOps: Int): Unit
  def op(i: Int): Unit
  /** Failures found in op `i`'s outputs. */
  def check(i: Int): Seq[String]
  /** Failures found once the timed ops are done. */
  def finish(): Seq[String] = Nil
  /** Per-op layer metrics the workload measures itself (traced runs). */
  def layerMetrics(nOps: Int): Map[String, Double] = Map.empty
}

/** The benchmark's JVM:
  * `--workload <name> --seed <n> --seconds <n> --trace <0|1> --work <dir> --out <dir>`.
  *
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics in an
  * untraced run, the per-layer metrics in a traced one. */
object Main {

  /** Per-layer metric names every traced run reports (0 where a layer
    * takes no part in the workload). */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "config.load_s" -> "s", "config.resolve_s" -> "s", "config.files" -> "count",
    "config.flowgroups" -> "count", "config.actions" -> "count",
    "plan.plan_s" -> "s", "plan.inputs_s" -> "s", "plan.inputs_calls" -> "count",
    "plan.graph_s" -> "s", "plan.edges" -> "count", "plan.generations" -> "count",
    "exec.execute_s" -> "s", "exec.flowgroup_s" -> "s", "exec.overlap" -> "ratio",
    "exec.flowgroups" -> "count",
    "tablestore.commits" -> "count", "tablestore.files" -> "count",
    "tablestore.mb" -> "MB", "tablestore.changelog_files" -> "count",
    "stream.batches" -> "count", "stream.input_rows" -> "count",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s", "stream.planning_s" -> "s",
    "stream.wal_s" -> "s", "stream.latest_offset_s" -> "s",
    "stream.state_commit_s" -> "s", "stream.state_rows" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.executions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.output_mb" -> "MB",
    "dq.rows_dropped" -> "count", "dq.rows_quarantined" -> "count",
    "cdc.rows_in" -> "count",
    "bench.self_s" -> "s", "bench.land_s" -> "s",
    "jvm.cpu_s" -> "s", "jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
    "jvm.jit_s" -> "s", "jvm.alloc_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath

    // task slots: the machine's cores, never more
    val slots = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$slots]")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced)
    val listeners = Option.when(traced) { val l = new Listeners(spark); l.register(); l }

    val wl: Workload = workload match {
      case "resolve_blueprint" => new ResolveBlueprint(spark, work, seed, trace)
      case "medallion_cdc" => new MedallionCdc(spark, work, seed, trace)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val nOps = wl.ops(seconds)
    trace.beginOp(-1)
    wl.setup(nOps)
    val setupS = (System.nanoTime() - t0) / 1e9

    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val opS = new Array[Double](nOps)
    var failed = 0
    var layerSums = Map.empty[String, Double]
    def addDelta(before: Map[String, Double], after: Map[String, Double]): Unit =
      after.foreach { case (k, v) =>
        layerSums += k -> (layerSums.getOrElse(k, 0.0) + v - before.getOrElse(k, 0.0))
      }
    for (i <- 0 until nOps) {
      val before = listeners.map(_.drained() ++ JvmStats.snap())
      trace.beginOp(i)
      val s = System.nanoTime()
      val result = Try(trace.span("op")(wl.op(i)))
      opS(i) = (System.nanoTime() - s) / 1e9
      before.foreach(b => addDelta(b, listeners.get.drained() ++ JvmStats.snap()))
      result match {
        case Success(_) => errors ++= Try(wl.check(i)).fold(
          e => Seq(s"op $i check: $e"), identity)
        case Failure(e) =>
          failed += 1
          errors += s"op $i failed: $e"
      }
    }
    errors ++= Try(wl.finish()).fold(e => Seq(s"finish: $e"), identity)
    // the least used heap over three full collections: objects still
    // waiting on a finalizer or cleaner survive the first
    val heapLiveMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("op_s", median(opS.toSeq), "s"),
        ("heap_live_mb", heapLiveMb, "MB"))
      else {
        val self = trace.selfByOp()
        val walls = trace.rootWall("op")
        // the spans must account for each op's wall time
        walls.foreach { case (i, wall) =>
          val sum = self.getOrElse(i, Map.empty).values.sum
          if (math.abs(sum - wall) > 0.05 * wall)
            errors += f"op $i: span self times add up to $sum%.4f s of $wall%.4f s"
        }
        val perOp = self.values.flatMap(_.toSeq).groupBy(_._1)
          .map { case (n, xs) => n -> xs.map(_._2).sum / nOps }
        val spanMetrics = Map(
          "bench.self_s" -> perOp.getOrElse("op", 0.0)) ++
          perOp.collect { case (n, v) if n != "op" => s"${n}_s" -> v }
        val measured = layerSums.map { case (k, v) => k -> v / nOps } ++
          spanMetrics ++ wl.layerMetrics(nOps)
        trace.write(out.resolve(s"spans-$workload-$seed.jsonl"))
        val unknown = measured.keySet -- LayerMetrics.map(_._1)
        if (unknown.nonEmpty) errors += s"unlisted layer metrics: ${unknown.toSeq.sorted}"
        LayerMetrics.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
      }

    errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    val metricsJson = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val line = s"""{"correct":${errors.isEmpty},"attempted":$nOps,""" +
      s""""failed":$failed,"metrics":$metricsJson}"""

    Try {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("stop").invoke(cls.getField("MODULE$").get(null))
    }
    spark.stop()
    try org.apache.logging.log4j.LogManager.shutdown()
    catch { case _: Throwable => () }
    System.err.flush()
    println(line)
    System.out.flush()
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JVM-wide counters from the MXBeans, as running totals. */
object JvmStats {
  def snap(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threads = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    Map(
      "jvm.cpu_s" -> os.getProcessCpuTime / 1e9,
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.alloc_mb" -> threads.getTotalThreadAllocatedBytes / 1048576.0)
  }
}
