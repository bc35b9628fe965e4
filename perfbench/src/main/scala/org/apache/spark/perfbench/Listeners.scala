package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Running sums that listener callbacks add to from the listener-bus
  * thread and the benchmark thread reads between ops. */
final class Counters {
  private val sums = scala.collection.mutable.LinkedHashMap[String, Double]()
  def add(name: String, v: Double): Unit = synchronized {
    sums(name) = sums.getOrElse(name, 0.0) + v
  }
  def snapshot(): Map[String, Double] = synchronized(sums.toMap)
}

/** The three listeners of a traced run: the scheduler's (jobs, stages,
  * task metrics), Catalyst's (phase times from `QueryExecution.tracker`)
  * and Structured Streaming's (per-trigger progress records). Lives in
  * `org.apache.spark` for `listenerBus.waitUntilEmpty`, which makes the
  * counters complete at an op boundary. */
final class Listeners(spark: SparkSession) {
  val counters = new Counters

  private val mb = 1024.0 * 1024.0

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        counters.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        counters.add("spark.task_run_s", m.executorRunTime / 1e3)
        counters.add("spark.gc_s", m.jvmGCTime / 1e3)
        counters.add("spark.input_mb", m.inputMetrics.bytesRead / mb)
        counters.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        counters.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        counters.add("spark.output_mb", m.outputMetrics.bytesWritten / mb)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      counters.add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        counters.add(s"catalyst.${phase}_s", s.durationMs / 1e3)
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      counters.add("stream.batches", 1)
      counters.add("stream.input_rows", p.numInputRows.toDouble)
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
      counters.add("stream.trigger_s", ms("triggerExecution"))
      counters.add("stream.add_batch_s", ms("addBatch"))
      counters.add("stream.planning_s", ms("queryPlanning"))
      counters.add("stream.wal_s", ms("walCommit"))
      counters.add("stream.latest_offset_s", ms("latestOffset"))
      p.stateOperators.foreach { s =>
        counters.add("stream.state_commit_s", s.commitTimeMs / 1e3)
        counters.add("stream.state_rows", s.numRowsTotal.toDouble)
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streams)
  }

  /** Counters after every event posted so far has been handled. */
  def drained(): Map[String, Double] = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    counters.snapshot()
  }
}
