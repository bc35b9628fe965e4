package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crash-forge fixture for the bridge writers' commit protocol
  * ([[graft.sources.StagedCommit]]): a second JVM that writes the
  * deterministic fixture through AvroBridge.write or WarcBridge.write with
  * a [[graft.exec.CrashForge]] point armed, so one task HARD-HALTS between
  * its staging write and the atomic rename — the torn window a committed
  * file protocol exists for. The parent spec (BridgeCommitKillSpec) then
  * observes the torn directory (a `.inprogress` orphan, the halted
  * partition's final file missing), re-runs the same write in-process (the
  * job-level retry), and asserts exactly-once read-back plus a clean
  * staging sweep.
  *
  * args: `<avro|warc> <dir>`. The armed point is `avro_commit` /
  * `warc_commit` respectively. Fixtures are deterministic pure functions
  * of nothing, shared with the parent spec so both JVMs agree on the
  * expected row set by construction. */
object BridgeCommitChild {

  /** 120 rows, 4 partitions — small enough to finish in seconds, wide
    * enough that the halt leaves a MIX of committed and torn partitions. */
  def fixtureAvro(spark: SparkSession): DataFrame =
    spark.range(120).select(col("id"),
      concat(lit("doc-"), col("id")).as("text")).repartition(4)

  def fixtureWarc(spark: SparkSession): DataFrame =
    spark.range(120).select(
      lit("response").as("warc_type"),
      concat(lit("<urn:uuid:rec-"), col("id"), lit(">")).as("record_id"),
      lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("warc_date"),
      concat(lit("https://example.com/p/"), col("id")).as("target_uri"),
      lit("text/plain").as("content_type"),
      encode(concat(lit("payload "), col("id")), "UTF-8").as("payload")
    ).repartition(4)

  def main(args: Array[String]): Unit = {
    val Array(bridge, dir) = args
    val spark = graft.GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    bridge match {
      case "avro" =>
        sys.props(graft.exec.CrashForge.prop) = "avro_commit"
        graft.sources.AvroBridge.write(fixtureAvro(spark), dir)
      case "warc" =>
        sys.props(graft.exec.CrashForge.prop) = "warc_commit"
        graft.sources.WarcBridge.write(fixtureWarc(spark), dir)
      case other => sys.error(s"unknown bridge '$other'")
    }
    // reaching here means the forge never fired — a real failure for the
    // parent (it asserts exit 137)
    println("CHILD COMPLETED (commit kill-point never fired)")
    sys.exit(0)
  }
}
