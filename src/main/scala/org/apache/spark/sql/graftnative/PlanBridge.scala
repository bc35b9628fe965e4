package org.apache.spark.sql.graftnative

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.{classic, DataFrame, SparkSession}

/** Logical-plan → DataFrame bridge.
  *
  * The engine's dedup-bearing MV maintenance (PipelineRunner) detects a
  * top-level `Distinct`/`Deduplicate` on the MV's analyzed plan and
  * executes the UNDER-dedup child as the stream (the dedup itself is
  * maintained by per-batch anti-join against the MV table, so no
  * data-sized streaming state exists), and a runner stream with a derived
  * partition count runs its plan on a session clone. Rebuilding a Dataset
  * from a plan needs `Dataset.ofRows`, which is `private[sql]` — hence
  * this bridge under `org.apache.spark.sql`, the same extension-library
  * pattern as [[ArrayMathExpressions]].
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s analyzed plan rebound onto a clone of its session with `key`
    * set to `value` — the caller's session conf is never written — plus a
    * thunk to call once the clone's stream has ended. The thunk unhooks
    * the listener bus the clone's StreamingQueryManager attaches to the
    * SparkContext's shared bus, which otherwise stays there for the life
    * of the context: one listener left behind per clone. The bus is found
    * by a marker listener, so concurrent callers never unhook each
    * other's. */
  def onClone(df: DataFrame, key: String, value: String): (DataFrame, () => Unit) = {
    val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    clone.conf.set(key, value)
    val marker = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    clone.streams.addListener(marker)
    val shared = clone.sparkContext.listenerBus
    val own = shared.listeners.toArray.collect {
      case b: StreamingQueryListenerBus if b.listeners.contains(marker) => b
    }
    (ofRows(clone, df.queryExecution.analyzed),
      () => own.foreach(shared.removeListener))
  }
}
