package graft.exec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one way a runner stream starts: [[run]] takes the stream's
  * DataFrame and its writer chain, starts the query, awaits it, and
  * records its lifecycle — with the stream's state partitioning derived
  * from its input size (guide §2: derive partitioning from input size
  * instead of a constant tuned for either local mode or the cluster).
  *
  * WHY: a stateful streaming operator creates one state-store instance per
  * shuffle partition — a stream-stream join keeps FOUR per partition — and
  * every microbatch pays a fixed per-store commit cost (delta file create +
  * fsync + rename against the checkpoint filesystem) regardless of how many
  * rows the store holds. With `spark.sql.shuffle.partitions` sized for the
  * cluster (the right thing for batch work), a stream whose input is small
  * pays partitions × stores × commits of pure fixed I/O: the r18 driver
  * measured the SAME stream gates 2× faster at 8 cores/partitions than at
  * 32 because of exactly this, and per-store commit cost dominates harder
  * the larger the cluster. The fix is the broadcast-join-threshold posture:
  * derive the stream's partition count from its (listed) source bytes at
  * 128 MiB per partition, and NEVER exceed the session's configured
  * parallelism — a large input keeps the cluster's setting, a small one
  * stops minting empty state stores.
  *
  * The derived value reaches the query through a session CLONE the plan is
  * rebound onto; the runner's own session conf is never written, so batch
  * work planned concurrently on other flowgroup threads always sees the
  * session's value. It only applies at the stream's FIRST start: Spark
  * pins `spark.sql.shuffle.partitions` (with the other state-relevant
  * confs) in the checkpoint's offset log and re-applies it on every
  * restart, so a landing directory that grows across runs cannot re-shape
  * existing state.
  */
object StreamTuning {

  private val BytesPerPartition = 128L * 1024 * 1024

  /** Listing guard: past this many files the source is "large" without
    * finishing the walk — the answer (keep the session value) is already
    * known, and an unbounded listing would itself become the cost. */
  private val MaxListedFiles = 20000

  // stream lifecycle seconds (nanos, so concurrent adds never lose
  // fractions) — wall(start→termination) minus Spark's triggerExecution
  // work; the bench drains it as gate scaffolding
  private val lifecycleNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Return and reset the recorded stream lifecycle seconds. */
  def drainLifecycleSec(): Double = lifecycleNanos.getAndSet(0L) / 1e9

  /** Sum the on-disk bytes of every file-backed streaming source in the
    * plan. None when the plan has no recognizable file-backed streaming
    * source (kafka, rate, custom providers) or a listing fails — callers
    * must then leave the session configuration alone. `Long.MaxValue`
    * stands for "more files than the listing guard". */
  def inputBytes(df: DataFrame): Option[Long] = try {
    // the ANALYZED plan — temp-view references (every transform chain in
    // the runner) are unresolved leaves in the raw logical plan
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val sources = leaves.filter(
      _.getClass.getSimpleName.startsWith("StreamingRelation"))
    if (sources.isEmpty) return None
    val paths = sources.flatMap { rel =>
      try {
        // v1 StreamingRelation(dataSource, sourceName, output) — file
        // sources resolve through it; private[sql] at the Scala level, so
        // reflect. Anything unrecognized poisons the estimate to None
        // rather than undercounting.
        val ds = rel.getClass.getMethod("dataSource").invoke(rel)
        val declared = ds.getClass.getMethod("paths").invoke(ds)
          .asInstanceOf[Seq[String]]
        val opt = ds.getClass.getMethod("options").invoke(ds)
          .asInstanceOf[Map[String, String]]
        val all = declared ++ opt.get("path")
        if (all.isEmpty) return None
        all
      } catch { case _: ReflectiveOperationException => return None }
    }
    var total = 0L
    var files = 0
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    paths.distinct.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      if (fs.exists(hp)) {
        val it = fs.listFiles(hp, true)
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            total += st.getLen
            files += 1
            if (files > MaxListedFiles) return Some(Long.MaxValue)
          }
        }
      }
    }
    Some(total)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** True when the stream plan itself carries a stateful operator
    * (aggregation, dedup, stream-stream join, …) — the shapes that mint
    * one state store per shuffle partition per operator. Streams WITHOUT
    * one (passthrough appends) hold no per-partition state to save on. */
  private def hasStatefulOp(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.analyzed
    plan.isStreaming && plan.exists {
      case a: Aggregate => a.isStreaming
      case d: Deduplicate => d.isStreaming
      case j: Join => j.left.isStreaming && j.right.isStreaming
      case n => n.isStreaming &&
        Set("DeduplicateWithinWatermark", "FlatMapGroupsWithState",
          "TransformWithState").contains(n.getClass.getSimpleName)
    }
  }

  /** ceil(bytes / 128 MiB), at least 1, or None when that does not fall
    * below `session` — never ABOVE the configured parallelism, and the
    * listing guard's `Long.MaxValue` keeps the session value. Written
    * without `bytes + per - 1`, which wraps negative near Long.MaxValue. */
  def partitionsFor(bytes: Long, session: Int): Option[Int] = {
    val derived = math.max(1L,
      bytes / BytesPerPartition + (if (bytes % BytesPerPartition > 0) 1 else 0))
    if (derived < session) Some(derived.toInt) else None
  }

  /** The partition count for a runner stream over `df`, or None to keep
    * the session value: only plans that carry streaming state, and never
    * for a sink that merges into or rewrites an existing target — a
    * foreachBatch body's jobs run on the stream's session, so a value
    * derived from the (small) stream source would under-partition a merge
    * against a large target. */
  def derivePartitions(df: DataFrame, merges: Boolean): Option[Int] =
    if (merges || !hasStatefulOp(df)) None
    else inputBytes(df).flatMap(partitionsFor(_,
      df.sparkSession.sessionState.conf.numShufflePartitions))

  /** Start the stream `write` configures over `df`, run it to termination
    * and record its NON-WORK wall as lifecycle: wall(start→termination)
    * minus the sum of the query's `triggerExecution` durations (Spark's
    * own per-trigger plan + exactly-once cost). What's left is derivation,
    * checkpoint recovery, trigger polling gaps and stop/teardown. Recording
    * happens in a `finally`, so a failed query's lifecycle still counts.
    * `merges` marks a sink that merges into or rewrites an existing target
    * (see [[derivePartitions]]). When a count is derived, the plan runs on
    * a session clone carrying it; the clone's query manager is unhooked
    * from the shared listener bus once the query ends, so neither the
    * clone nor the query handle outlives this call. */
  def run(df: DataFrame, merges: Boolean)(
      write: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val t0 = System.nanoTime()
    val (bound, detach) = derivePartitions(df, merges) match {
      case None => (df, () => ())
      case Some(n) => org.apache.spark.sql.graftnative.PlanBridge
        .onClone(df, "spark.sql.shuffle.partitions", n.toString)
    }
    var q: StreamingQuery = null
    try { q = write(bound.writeStream).start(); q.awaitTermination() }
    finally {
      detach()
      if (q != null) {
        val wall = (System.nanoTime() - t0) / 1e9
        val work = q.recentProgress.iterator.map { p =>
          Option(p.durationMs.get("triggerExecution"))
            .fold(0.0)(_.toDouble / 1000.0)
        }.sum
        lifecycleNanos.addAndGet((math.max(0.0, wall - work) * 1e9).toLong)
      }
    }
  }
}
