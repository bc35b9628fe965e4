package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Monitoring: union N pipeline event logs into one table — the runtime of
  * the reference's generated monitoring notebook
  * (core/coordination/monitoring_pipeline_builder.py:177-266,
  * templates/monitoring/union_event_logs.py.j2:1-50): one independent
  * checkpointed stream per source, all appending to a single table.
  */
object Monitoring {

  /** Batch union of event-log directories with a source tag. An empty map
    * is a loud error naming the situation, not a bare empty.reduceLeft —
    * a project whose pipelines have produced no event logs yet should see
    * what is missing, not an UnsupportedOperationException. */
  def unionEventLogs(spark: SparkSession, logs: Map[String, String]): DataFrame = {
    require(logs.nonEmpty,
      "unionEventLogs: no event-log sources — no pipeline has produced an " +
        "event log yet (run a pipeline with event logging enabled first)")
    logs.map { case (pipeline, path) =>
      spark.read.parquet(path).withColumn("_pipeline", lit(pipeline))
    }.reduce(_ unionByName (_, allowMissingColumns = true))
  }

  /** Streaming variant: one AvailableNow flow per source into `targetPath`,
    * each with its own checkpoint (per-stream checkpoints, as the reference
    * generates). Serialized per-table to respect the one-writer discipline.
    *
    * The append goes through foreachBatch, NOT the parquet streaming sink:
    * the file sink maintains a `_spark_metadata` transaction log that is
    * single-QUERY — with N queries sharing one target directory, readers
    * resolve the listing through whichever query's log owns the directory
    * and silently drop every other query's files (observed: only the first
    * pipeline's events visible in the union).
    *
    * Exactly-once: foreachBatch replays the last uncommitted batch after a
    * crash, and a blind `mode("append")` would double those rows forever
    * (every monitoring MV over the union reports inflated counts). Each
    * batch instead OVERWRITES its own deterministic partition directory
    * `_pipeline=<src>/_batch=<id>` — a replay rewrites the same directory,
    * so at-least-once delivery plus idempotent placement = exactly-once.
    * Partition discovery surfaces `_pipeline` (and `_batch`) as columns on
    * read, so the union's shape is unchanged for MV SQL.
    *
    * Sources run CONCURRENTLY through a bounded pool (`maxConcurrent`, the
    * reference's ThreadPoolExecutor max_workers, default 10): each stream
    * owns its checkpoint and its batch directories are disjoint by
    * construction, so there is no shared mutable state between them — on a
    * project with dozens of pipelines the serial version's wall-clock is
    * the sum of every stream's startup latency. */
  def streamEventLogs(spark: SparkSession, logs: Map[String, String],
      targetPath: String, checkpointRoot: String,
      maxConcurrent: Int = 10): Unit =
    if (logs.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(maxConcurrent, logs.size)))
      try {
        val tasks = logs.toSeq.map { case (pipeline, path) =>
          // pipeline names come from user YAML: a '/' (or '%'-sequence, or
          // any char Hive partition paths escape) interpolated raw into the
          // hand-built _pipeline=<name> directory either escapes the target
          // dir or reads back as a DIFFERENT _pipeline value than was
          // written ("Conflicting directory structures" in the worst case).
          // Escape exactly as Spark's own partitioned writer does, so
          // partition discovery round-trips the value.
          val escaped = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(pipeline)
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val schema = spark.read.parquet(path).schema
              graft.exec.StreamTuning.run(
                  spark.readStream.schema(schema).parquet(path), merges = false)(_
                .foreachBatch { (b: DataFrame, id: Long) =>
                  b.write.mode("overwrite")
                    .parquet(s"$targetPath/_pipeline=$escaped/_batch=$id")
                }
                .option("checkpointLocation", s"$checkpointRoot/monitor_$escaped")
                .trigger(Trigger.AvailableNow()))
            }
          })
        }
        // propagate the FIRST stream failure (after all settle) — a silent
        // partial union would under-report in every monitoring MV
        val failures = tasks.flatMap { t =>
          try { t.get(); None } catch {
            case e: java.util.concurrent.ExecutionException => Some(e.getCause)
          }
        }
        failures.headOption.foreach(throw _)
      } finally pool.shutdown()
    }

  /** One monitoring materialized view (reference
    * MonitoringMaterializedViewConfig): name + inline SQL or a
    * project-relative sql_path. */
  final case class MvDef(name: String, sql: Option[String], sqlPath: Option[String])

  /** The whole monitoring pipeline as the reference's generated workflow
    * runs it (monitoring_pipeline_builder.py): step 1 unions every
    * per-pipeline event log INCREMENTALLY into `streamingTable` (one
    * checkpointed AvailableNow stream per source); step 2 refreshes the
    * monitoring materialized views over that union (registered as a temp
    * view under the table's leaf name, so the MV SQL reads it by name).
    * Event-log tables that do not exist yet (a pipeline that has never
    * run) are skipped — the next run picks them up. */
  def runPipeline(spark: SparkSession, store: graft.exec.TableStore,
      eventLogTables: Map[String, String], streamingTable: String,
      mvs: Seq[MvDef], checkpointRoot: String,
      readFile: String => String = p =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))),
      /** Catalog/schema qualifier for MONITORING-OWNED tables (the MVs) —
        * they live in the monitoring block's catalog.schema alongside the
        * union table, not unqualified at the warehouse root where they
        * would collide with data tables. */
      qualify: String => String = identity,
      maxConcurrentStreams: Int = 10): Unit = {
    val present = eventLogTables.filter { case (_, t) => store.exists(t) }
    streamEventLogs(spark, present.map { case (p, t) => p -> store.path(t) },
      store.path(streamingTable), checkpointRoot, maxConcurrentStreams)
    store.readIfExists(streamingTable).foreach { union =>
      union.createOrReplaceTempView(streamingTable.split('.').last)
      mvs.foreach { mv =>
        val sql = mv.sql.orElse(mv.sqlPath.map(readFile)).getOrElse(
          throw graft.config.YamlConfig.ConfigError(
            s"monitoring materialized view '${mv.name}' needs sql or sql_path"))
        store.overwrite(qualify(mv.name), spark.sql(sql))
      }
    }
  }
}
