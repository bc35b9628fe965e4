package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.RunProject
import graft.exec.{PipelineOrchestrator, TableStore}

/** Data plane, writes: a generated medallion project run with
  * `RunProject.execute` on one warehouse. Bronze `cloudfiles` streams
  * load the landing directories; silver applies warn, drop and fail
  * expectations (customers) and a quarantine (orders), and merges the
  * customer feed as SCD2 with `apply_as_deletes` and `change_log: true`;
  * gold materialized views join the silver dimension to the fact table,
  * one on the current version and one as of the order's sequence value.
  *
  * Set-up lands the base snapshot and runs the initial full load, then
  * seven warm-up batches. One op lands one change batch and runs one
  * incremental refresh. After every op, outside the timing, the silver
  * table and both views must equal a plain-Scala fold of every event
  * generated so far, and the dropped and quarantined rows must equal the
  * generator's bad rows. */
final class MedallionCdc(spark: SparkSession, work: Path, seed: Long,
    trace: Trace) extends Workload {
  import MedallionGen._

  val warmups = 7
  def ops(seconds: Int): Int = math.max(4, seconds / 5)

  private val root = work.resolve("medallion")
  private val project = root.resolve("project")
  private val landing = root.resolve("landing")
  private val warehouse = root.resolve("wh").toString
  private val gen = new MedallionGen(seed)
  private var batches = IndexedSeq.empty[Batch]
  private var landed = Seq.empty[Batch]
  private lazy val store = new TableStore(spark, warehouse)
  private var outcomes = Seq.empty[PipelineOrchestrator.Outcome]
  private var execSums = Map.empty[String, Double]
  /** commit-kind entries after the last op, and the counts its check read */
  private var commits = 0
  private var lastCounts = Map.empty[String, Double]

  def setup(nOps: Int): Unit = {
    writeProject()
    val base = gen.base()
    batches = (0 until warmups + nOps).map(_ => gen.next())
    trace.span("setup.initial_load") { land(base, "base"); execute() }
    // warm-up batches: refresh times keep falling, by steps, through
    // about the seventh incremental refresh as the JIT compiles the
    // merge and stream paths
    (0 until warmups).foreach { w =>
      trace.span("setup.warmup") { land(batches(w), s"warmup_$w"); execute() }
    }
    commits = commitCount()
  }

  /** Entries in every table's commit-kind log. */
  private def commitCount(): Int =
    TableStore.listTables(warehouse).map(t => store.commitKinds(t).size).sum

  def op(i: Int): Unit = {
    trace.span("bench.land")(land(batches(warmups + i), f"batch_$i%03d"))
    val t = System.nanoTime()
    trace.span("exec.execute")(execute())
    val wall = (System.nanoTime() - t) / 1e9
    val fgS = outcomes.map(_.durationMs).sum / 1e3
    accumulate("exec.flowgroup_s", fgS)
    accumulate("exec.overlap", fgS / wall)
    accumulate("exec.flowgroups", outcomes.size)
  }

  private def accumulate(metric: String, v: Double): Unit =
    execSums += metric -> (execSums.getOrElse(metric, 0.0) + v)

  private def execute(): Unit = {
    outcomes = RunProject.execute(spark, project.toString, "dev", warehouse)
    val bad = outcomes.filter(o => o.error.isDefined || o.skipped)
    if (bad.nonEmpty) throw new IllegalStateException(bad.map(o =>
      s"${o.flowgroup}: ${o.error.map(_.toString).getOrElse("skipped")}").mkString("; "))
  }

  private def land(b: Batch, name: String): Unit = {
    def put(dir: String, lines: Seq[String]): Unit = {
      val d = landing.resolve(dir)
      Files.createDirectories(d)
      // write beside, then rename in: a stream never lists a partial file
      val tmp = landing.resolve(s".$dir-$name.json")
      Files.write(tmp, lines.asJava)
      Files.move(tmp, d.resolve(s"$name.json"))
    }
    put("customers", b.customers.map(_.json))
    put("orders", b.orders.map(_.json))
    landed :+= b
  }

  def check(i: Int): Seq[String] = {
    val events = landed.flatMap(_.customers)
    val orders = landed.flatMap(_.orders)
    val want = fold(events)
    val got = store.read("dim_customer")
      .selectExpr("id", "name", "segment", "tier", "seq", "__start_at", "__end_at")
      .collect().map(r => DimRow(r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4), r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Long]))).toSeq
    val (wantSegment, wantTier) = gold(want, orders)
    def view(t: String) = store.read(t).selectExpr(
      t.stripPrefix("gold_").takeWhile(_ != '_'), "revenue", "n_orders").collect()
      .map((r: Row) => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val counts = Seq(
      ("dropped rows", store.read("bronze_customers").where("segment IS NULL").count(),
        landed.map(_.dropped).sum.toLong),
      ("quarantined rows", store.read("orders_dlq").count(),
        landed.map(_.quarantined).sum.toLong),
      ("fact rows", store.read("fact_orders").count(),
        orders.count(_.amount >= 0).toLong),
      ("change-log rows", store.read("dim_customer__changes").count(),
        events.count(_.segment.isDefined).toLong))
    lastCounts = counts.map { case (n, got, _) => n -> got.toDouble }.toMap
    val now = commitCount()
    accumulate("tablestore.commits", now - commits)
    commits = now
    Seq(
      Option.when(got.toSet != want.toSet || got.size != want.size)(
        s"op $i: dim_customer has ${got.size} rows, the fold ${want.size}; " +
          s"first differences ${(got.toSet diff want.toSet).take(2)} / ${(want.toSet diff got.toSet).take(2)}"),
      Option.when(view("gold_segment_revenue") != wantSegment)(
        s"op $i: gold_segment_revenue differs from the fold"),
      Option.when(view("gold_tier_asof") != wantTier)(
        s"op $i: gold_tier_asof differs from the fold"),
    ).flatten ++ counts.collect { case (n, got, want) if got != want =>
      s"op $i: $got $n, generator made $want" }
  }

  override def layerMetrics(nOps: Int): Map[String, Double] = {
    val files = scala.util.Using.resource(Files.walk(Path.of(warehouse)))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filterNot(_.toString.contains("/_")).toList)
    execSums.map { case (k, v) => k -> v / nOps } ++ Map(
      "tablestore.files" -> files.size.toDouble,
      "tablestore.mb" -> files.map(Files.size(_)).sum / 1048576.0,
      "tablestore.changelog_files" -> files.count(_.toString.contains("__changes/")).toDouble,
      "dq.rows_dropped" -> lastCounts.getOrElse("dropped rows", 0.0),
      "dq.rows_quarantined" -> lastCounts.getOrElse("quarantined rows", 0.0),
      "cdc.rows_in" -> lastCounts.getOrElse("change-log rows", 0.0))
  }

  private def writeProject(): Unit = {
    def put(rel: String, text: String): Unit = {
      val p = project.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    put("lhp.yaml", "name: medallion_perf\n")
    put("substitutions/dev.yaml", s"dev:\n  landing: $landing\n")
    def bronze(entity: String, schema: String) = put(s"pipelines/bronze_$entity.yaml",
      s"""pipeline: bronze
         |flowgroup: bronze_$entity
         |actions:
         |  - name: load_$entity
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: "{landing}/$entity"
         |      format: json
         |      readMode: stream
         |      table_schema: "$schema"
         |    target: v_${entity}_raw
         |  - name: write_bronze_$entity
         |    type: write
         |    source: v_${entity}_raw
         |    write_target: {type: streaming_table, table: bronze_$entity}
         |""".stripMargin)
    bronze("customers", "id BIGINT, name STRING, segment STRING, tier STRING, seq BIGINT, op STRING")
    bronze("orders", "order_id BIGINT, customer_id BIGINT, amount BIGINT, at_seq BIGINT")
    put("pipelines/silver_customers.yaml",
      """pipeline: silver
        |flowgroup: silver_customers
        |actions:
        |  - name: read_bronze_customers
        |    type: load
        |    readMode: stream
        |    source: {type: table, table: bronze_customers}
        |    target: v_customer_changes
        |  - name: dq_customers
        |    type: transform
        |    transform_type: data_quality
        |    source: v_customer_changes
        |    target: v_customers_ok
        |    expectations:
        |      - {name: has_id, expression: "id IS NOT NULL", failureAction: fail}
        |      - {name: has_segment, expression: "segment IS NOT NULL", failureAction: drop}
        |      - {name: has_tier, expression: "tier IS NOT NULL", failureAction: warn}
        |  - name: write_dim_customer
        |    type: write
        |    source: v_customers_ok
        |    write_target: {type: streaming_table, table: dim_customer, change_log: true}
        |    cdc_config:
        |      keys: [id]
        |      sequence_by: seq
        |      scd_type: 2
        |      apply_as_deletes: "op = 'D'"
        |      except_column_list: [op]
        |""".stripMargin)
    put("pipelines/silver_orders.yaml",
      """pipeline: silver
        |flowgroup: silver_orders
        |actions:
        |  - name: read_bronze_orders
        |    type: load
        |    readMode: stream
        |    source: {type: table, table: bronze_orders}
        |    target: v_order_rows
        |  - name: dq_orders
        |    type: transform
        |    transform_type: data_quality
        |    source: v_order_rows
        |    target: v_orders_ok
        |    mode: quarantine
        |    quarantine: {dlq_table: orders_dlq}
        |    expectations:
        |      - {name: non_negative_amount, expression: "amount >= 0", failureAction: drop}
        |      - {name: has_customer, expression: "customer_id IS NOT NULL", failureAction: fail}
        |  - name: write_fact_orders
        |    type: write
        |    source: v_orders_ok
        |    write_target: {type: streaming_table, table: fact_orders}
        |""".stripMargin)
    put("pipelines/gold.yaml",
      """pipeline: gold
        |flowgroup: gold_views
        |actions:
        |  - name: mv_segment_revenue
        |    type: write
        |    write_target: {type: materialized_view, table: gold_segment_revenue}
        |    sql: |
        |      SELECT c.segment, CAST(sum(o.amount) AS BIGINT) AS revenue, count(*) AS n_orders
        |      FROM fact_orders o JOIN dim_customer c
        |        ON o.customer_id = c.id AND c.__end_at IS NULL
        |      GROUP BY c.segment
        |  - name: mv_tier_asof
        |    type: write
        |    write_target: {type: materialized_view, table: gold_tier_asof}
        |    sql: |
        |      SELECT c.tier, CAST(sum(o.amount) AS BIGINT) AS revenue, count(*) AS n_orders
        |      FROM fact_orders o JOIN dim_customer c
        |        ON o.customer_id = c.id AND o.at_seq >= c.__start_at
        |        AND (o.at_seq < c.__end_at OR c.__end_at IS NULL)
        |      GROUP BY c.tier
        |""".stripMargin)
  }
}
