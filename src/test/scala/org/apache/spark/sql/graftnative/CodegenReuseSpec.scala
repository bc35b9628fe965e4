package org.apache.spark.sql.graftnative

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSuite
import graft.config.YamlConfig
import graft.exec.{PipelineRunner, TableStore}

/** A refresh reuses the code it generated before: the session the engine
  * ships (`GraftSession.builder`) runs every stream's tasks under one
  * executor class loader and keeps a pipeline's working set of generated
  * units in the codegen cache, so a warm refresh of the same flowgroup
  * compiles only units whose Java text changes from batch to batch. It
  * lives under `org.apache.spark` to read Spark's `CodegenMetrics`. */
class CodegenReuseSpec extends SparkSuite {
  import spark.implicits._

  /** Compiles a warm refresh may make. The change-log append inlines the
    * batch's commit version (`lit(version)` on `_commit_version`) into its
    * generated Java, so each commit's unit is new and compiles twice: when
    * the stage is planned, and again in its task. Nothing else in this
    * flowgroup carries a per-batch literal. */
  private val PerCommitUnits = 2

  test("a warm silver refresh compiles only its per-commit literal units") {
    val dir = Files.createTempDirectory("graft-codegen").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    val landing = s"$dir/landing"
    val yaml =
      s"""pipeline: silver
         |flowgroup: silver_customers
         |actions:
         |  - name: read_changes
         |    type: load
         |    source: {type: cloudfiles, path: $landing, format: json, readMode: stream,
         |             table_schema: "id BIGINT, segment STRING, tier STRING, seq BIGINT, op STRING"}
         |    target: v_changes
         |  - name: dq
         |    type: transform
         |    transform_type: data_quality
         |    source: v_changes
         |    target: v_ok
         |    expectations:
         |      - {name: has_id, expression: "id IS NOT NULL", failureAction: fail}
         |      - {name: has_segment, expression: "segment IS NOT NULL", failureAction: drop}
         |      - {name: has_tier, expression: "tier IS NOT NULL", failureAction: warn}
         |  - name: write_dim
         |    type: write
         |    source: v_ok
         |    write_target: {type: streaming_table, table: codegen_dim, change_log: true}
         |    cdc_config:
         |      keys: [id]
         |      sequence_by: seq
         |      scd_type: 2
         |      apply_as_deletes: "op = 'D'"
         |      except_column_list: [op]
         |""".stripMargin
    // batch b updates keys 1-3 (key 2 without a segment, key 3 without a
    // tier), opens key 10 + b and deletes key 10 + b - 1, so from batch 2
    // on every batch has the same shape: each rule fires and a delete
    // closes an open key
    def refresh(b: Long): Long = {
      Seq[(Long, String, String, String)]((1, s"s$b", s"t$b", "U"), (2, null, s"t$b", "U"),
        (3, s"s$b", null, "U"), (10 + b, s"s$b", s"t$b", "U"), (9 + b, s"s$b", s"t$b", "D"))
        .map { case (k, segment, tier, op) => (k, segment, tier, 10 * b, op) }
        .toDF("id", "segment", "tier", "seq", "op").write.mode("append").json(landing)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      runner.run(YamlConfig.parseFlowGroup(yaml))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = refresh(1)
    refresh(2)
    val third = refresh(3)
    info(s"Janino compiles: refresh 1 $first, refresh 3 $third")
    assert(first > PerCommitUnits, s"the first refresh compiled only $first units")
    assert(third <= PerCommitUnits,
      s"the third refresh compiled $third units (the first compiled $first)")
    // and the refreshes applied: key 2 never passes the drop rule, keys 11
    // and 12 were opened and deleted, 13 is open
    assert(store.read("codegen_dim").where("__end_at IS NULL").select("id", "segment")
      .as[(Long, String)].collect().toSet == Set((1L, "s3"), (3L, "s3"), (13L, "s3")))
  }
}
