package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * The settings encode the 100 TB posture (see SURVEY §7 / builder notes):
  *   - AQE on (runtime shuffle-partition coalescing, broadcast-join demotion/
  *     promotion, skew-join splitting) — the knob that makes one static
  *     `shuffle.partitions` value survive a 1000× data-size range.
  *   - `maxPartitionBytes` 128 MiB — scan tasks sized for executor memory.
  *   - shuffle partitions default to the core count locally; on a cluster
  *     callers pass ~2-3× total executor cores and AQE coalesces down.
  *   - nanosAsLong for parquet TIMESTAMP(NANOS) inputs (TESTDATA events).
  *
  * Two more keep a triggered refresh — the same flows over a small new
  * batch, again and again — from compiling generated code it compiled on
  * the refresh before. Spark's codegen cache is keyed by the class loader
  * as well as the code, and both settings are needed:
  *   - `spark.sql.artifact.isolation.enabled` off. Every streaming query
  *     runs on a clone of its session, and each clone has a new session
  *     UUID; with isolation on, the executor builds a new class loader per
  *     UUID, so the tasks of every `foreachBatch` miss the cache and
  *     recompile identical code on every refresh. The engine adds no
  *     session artifacts (jars, class files), so isolation guards nothing.
  *   - `spark.sql.codegen.cache.maxEntries` at [[CodegenCacheEntries]]
  *     (Spark's default is 100; a static conf, so it holds from the first
  *     session of the JVM on). One medallion refresh cycles through about
  *     110 generated units, so at 100 the LRU evicts each unit before the
  *     next refresh asks for it again.
  */
object GraftSession {

  /** Room for several pipelines' working sets of generated units; it also
    * caps how many never-reused units (per-batch literals) the cache keeps. */
  private val CodegenCacheEntries = 1000

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      master match {
        case s if s.startsWith("local[") && !s.contains("*") =>
          s.stripPrefix("local[").stripSuffix("]").toInt
        case _ => 200
      })
    SparkSession.builder()
      .master(master)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }

  def create(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]"): SparkSession =
    builder(master).getOrCreate()
}
