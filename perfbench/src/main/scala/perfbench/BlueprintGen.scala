package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded generator of a project in the shape of the reference's
  * `performance_testing_blueprint` fixture: one blueprint with
  * `parameters` and `flowgroups`, three `use_blueprint` instance files of
  * 20 sites each, and 10 flowgroups per site — 600 flowgroups in 16
  * pipelines (4 regions x bronze/silver/gold/ops). The flowgroups use two
  * templates and a four-level preset chain, and every name, column and
  * literal goes through per-env substitution tokens.
  *
  * Within a site, silver reads bronze, gold reads silver and ops reads
  * gold (cross-pipeline edges, seven generations); each site's `compare`
  * flowgroup also reads a peer site's summary. Copies from distinct seeds
  * differ in names, columns, literals and peers, never in counts.
  *
  * The generator writes what the engine must find: flowgroups, actions,
  * pipelines and every flowgroup edge. */
object BlueprintGen {

  val Sites = 60
  val InstanceFiles = 3
  val Regions = 4
  val Generations = 7
  val Envs = Seq("dev", "tst", "prd")

  final case class Expected(
      flowgroups: Int,
      actions: Int,
      pipelines: Set[String],
      /** flowgroup id ("pipeline.flowgroup") -> the ids it depends on */
      edges: Map[String, Set[String]],
      generations: Int,
      files: Int)

  private val EntityPool = Seq("orders", "payments", "shipments", "returns",
    "invoices", "refunds", "claims", "visits", "tickets", "leads", "quotes",
    "bookings")
  private val RegionPool = Seq("north", "south", "east", "west", "central",
    "coastal", "alpine", "delta", "harbor", "plains")
  private val SitePool = Seq("oak", "elm", "ash", "fir", "yew", "bay", "ivy",
    "rye", "sky", "dew")
  private val ColPool = Seq("color", "size", "grade", "zone", "kind", "label",
    "mode", "tier", "batch", "lane")

  def write(root: Path, seed: Long): Expected = {
    val rng = new Random(seed)
    val entities = rng.shuffle(EntityPool).take(3)
    val regions = rng.shuffle(RegionPool).take(Regions)
    val sites = (0 until Sites).map(k => f"${SitePool(rng.nextInt(SitePool.size))}$k%02d")
    val cols = entities.map(e => e -> rng.shuffle(ColPool).take(2)).toMap
    val peerOffset = 1 + rng.nextInt(Sites - 1)
    val threshold = 1 + rng.nextInt(90)
    val files = scala.collection.mutable.ArrayBuffer[Path]()
    def put(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
      files += p
    }
    val Seq(e1, e2, e3) = entities
    val Seq(c11, _) = cols(e1)
    val Seq(c21, _) = cols(e2)
    val Seq(c31, _) = cols(e3)

    put("lhp.yaml", s"name: blueprint_perf_${java.lang.Long.toHexString(seed)}\nversion: \"1.0\"\n")
    Envs.foreach { env =>
      put(s"substitutions/$env.yaml",
        s"""global:
           |  landing_root: /landing/$env
           |  owner: data-eng-$env
           |$env:
           |  catalog: lake_$env
           |  bronze_schema: bronze_$env
           |  silver_schema: silver_$env
           |  gold_schema: gold_$env
           |  ops_schema: ops_$env
           |  min_amount: "${rng.nextInt(10)}"
           |  refresh: ${if (env == "prd") "hourly" else "daily"}
           |""".stripMargin)
    }
    put("presets/base.yaml",
      """name: base
        |defaults:
        |  write_actions:
        |    streaming_table:
        |      table_properties: {owner: "{owner}"}
        |    materialized_view:
        |      table_properties: {owner: "{owner}"}
        |""".stripMargin)
    put("presets/bronze.yaml",
      """name: bronze
        |extends: base
        |defaults:
        |  load_actions:
        |    cloudfiles:
        |      options: {cloudFiles.schemaEvolutionMode: none}
        |  write_actions:
        |    streaming_table:
        |      table_properties: {layer: bronze}
        |""".stripMargin)
    put("presets/silver.yaml",
      """name: silver
        |extends: bronze
        |defaults:
        |  write_actions:
        |    streaming_table:
        |      table_properties: {layer: silver}
        |    materialized_view:
        |      table_properties: {layer: silver}
        |""".stripMargin)
    put("presets/gold.yaml",
      """name: gold
        |extends: silver
        |defaults:
        |  write_actions:
        |    materialized_view:
        |      table_properties: {layer: gold, refresh: "{refresh}"}
        |""".stripMargin)
    put("templates/bronze_ingest.yaml",
      """name: bronze_ingest
        |parameters:
        |  - {name: entity}
        |  - {name: site}
        |  - {name: cols}
        |  - {name: colnames}
        |  - {name: fmt, default: json}
        |presets: [bronze]
        |actions:
        |  - name: load_{{ entity }}_{{ site }}
        |    type: load
        |    source:
        |      type: cloudfiles
        |      path: "{landing_root}/{{ site }}/{{ entity }}"
        |      format: "{{ fmt }}"
        |      readMode: stream
        |      table_schema: "id BIGINT, {{ cols }}, amount DOUBLE, seq BIGINT"
        |    target: v_{{ entity }}_raw
        |  - name: clean_{{ entity }}_{{ site }}
        |    type: transform
        |    transform_type: sql
        |    source: v_{{ entity }}_raw
        |    target: v_{{ entity }}
        |    sql: "SELECT id, {{ colnames }}, amount, seq FROM v_{{ entity }}_raw WHERE amount >= {min_amount}"
        |  - name: write_{{ entity }}_{{ site }}
        |    type: write
        |    source: v_{{ entity }}
        |    write_target: {type: streaming_table, catalog: "{catalog}", schema: "{bronze_schema}", table: "{{ entity }}_{{ site }}"}
        |""".stripMargin)
    put("templates/silver_cdc.yaml",
      """name: silver_cdc
        |parameters:
        |  - {name: entity}
        |  - {name: site}
        |  - {name: check_col}
        |presets: [silver]
        |actions:
        |  - name: read_{{ entity }}_{{ site }}
        |    type: load
        |    readMode: stream
        |    source: {type: table, table: "{catalog}.{bronze_schema}.{{ entity }}_{{ site }}"}
        |    target: v_{{ entity }}_in
        |  - name: dq_{{ entity }}_{{ site }}
        |    type: transform
        |    transform_type: data_quality
        |    source: v_{{ entity }}_in
        |    target: v_{{ entity }}_ok
        |    expectations:
        |      - {name: has_id, expression: "id IS NOT NULL", failureAction: fail}
        |      - {name: "has_{{ check_col }}", expression: "{{ check_col }} IS NOT NULL", failureAction: drop}
        |      - {name: non_negative, expression: "amount >= 0", failureAction: warn}
        |  - name: scd_{{ entity }}_{{ site }}
        |    type: write
        |    source: v_{{ entity }}_ok
        |    write_target: {type: streaming_table, catalog: "{catalog}", schema: "{silver_schema}", table: "{{ entity }}_{{ site }}_scd"}
        |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 2}
        |""".stripMargin)

    val bronze = "{catalog}.{bronze_schema}"
    val silver = "{catalog}.{silver_schema}"
    val gold = "{catalog}.{gold_schema}"
    val ops = "{catalog}.{ops_schema}"
    def ingest(e: String) = {
      val cs = cols(e)
      s"""  - pipeline: "%{region}_bronze"
         |    flowgroup: "ingest_${e}_%{site}"
         |    use_template: bronze_ingest
         |    template_parameters:
         |      entity: $e
         |      site: "%{site}"
         |      cols: "${cs.map(c => s"$c STRING").mkString(", ")}"
         |      colnames: "${cs.mkString(", ")}"
         |      fmt: "%{fmt}"
         |""".stripMargin
    }
    def mv(pipeline: String, fg: String, schema: String, sql: String) =
      s"""  - pipeline: "%{region}_$pipeline"
         |    flowgroup: "${fg}_%{site}"
         |    presets: [gold]
         |    actions:
         |      - name: mv_${fg}_%{site}
         |        type: write
         |        write_target: {type: materialized_view, catalog: "{catalog}", schema: "{$schema}", table: "${fg}_%{site}"}
         |        sql: "$sql"
         |""".stripMargin
    val blueprint = new StringBuilder(
      s"""name: site_family
         |parameters:
         |  - {name: site, required: true}
         |  - {name: region, required: true}
         |  - {name: peer, required: true}
         |  - {name: fmt, default: json}
         |flowgroups:
         |""".stripMargin)
    entities.foreach(e => blueprint ++= ingest(e))
    blueprint ++=
      s"""  - pipeline: "%{region}_silver"
         |    flowgroup: "conform_${e1}_%{site}"
         |    use_template: silver_cdc
         |    template_parameters: {entity: $e1, site: "%{site}", check_col: $c11}
         |  - pipeline: "%{region}_silver"
         |    flowgroup: "combine_%{site}"
         |    presets: [silver]
         |    actions:
         |      - name: pairs_%{site}
         |        type: load
         |        source:
         |          type: sql
         |          sql: "SELECT a.id, a.$c21, b.$c31, a.amount + b.amount AS amount, GREATEST(a.seq, b.seq) AS seq FROM $bronze.${e2}_%{site} a JOIN $bronze.${e3}_%{site} b ON a.id = b.id WHERE a.amount > $threshold"
         |        target: v_pairs
         |      - name: rollup_%{site}
         |        type: transform
         |        transform_type: sql
         |        source: v_pairs
         |        target: v_rollup
         |        sql: "SELECT $c21, count(*) AS n, sum(amount) AS amount, max(seq) AS seq FROM v_pairs GROUP BY $c21"
         |      - name: write_combine_%{site}
         |        type: write
         |        source: v_rollup
         |        write_target: {type: materialized_view, catalog: "{catalog}", schema: "{silver_schema}", table: "combine_%{site}"}
         |""".stripMargin
    blueprint ++= mv("silver", "enrich", "silver_schema",
      s"WITH cur AS (SELECT id, $c11, amount FROM $silver.${e1}_%{site}_scd WHERE __end_at IS NULL) " +
        s"SELECT c.$c11, p.n, sum(c.amount) AS amount FROM cur c JOIN $silver.combine_%{site} p " +
        s"ON c.$c11 = p.$c21 GROUP BY c.$c11, p.n")
    blueprint ++= mv("gold", "summary", "gold_schema",
      s"SELECT $c11, sum(amount) AS amount FROM $silver.enrich_%{site} GROUP BY $c11 " +
        s"UNION ALL SELECT 'all' AS $c11, sum(amount) AS amount FROM $silver.${e1}_%{site}_scd")
    blueprint ++= mv("gold", "compare", "gold_schema",
      s"SELECT a.$c11, a.amount - coalesce(b.amount, 0) AS delta FROM $gold.summary_%{site} a " +
        s"LEFT JOIN $gold.summary_%{peer} b ON a.$c11 = b.$c11")
    blueprint ++= mv("ops", "audit", "ops_schema",
      s"SELECT c.$c11, c.delta, s.amount FROM $gold.compare_%{site} c CROSS JOIN " +
        s"(SELECT sum(amount) AS amount FROM $silver.combine_%{site}) s WHERE c.delta > $threshold")
    blueprint ++= mv("ops", "report", "ops_schema",
      s"SELECT a.$c11, count(*) AS n FROM $ops.audit_%{site} a JOIN $gold.summary_%{site} g " +
        s"ON a.$c11 = g.$c11 GROUP BY a.$c11")
    put("blueprints/site_family.yaml", blueprint.toString)

    val siteIdx = sites.indices
    siteIdx.groupBy(_ % InstanceFiles).toSeq.sortBy(_._1).foreach { case (f, ks) =>
      val docs = rng.shuffle(ks).map { k =>
        s"""use_blueprint: site_family
           |parameters:
           |  site: ${sites(k)}
           |  region: ${regions(k % Regions)}
           |  peer: ${sites((k + peerOffset) % Sites)}
           |""".stripMargin
      }
      put(s"pipelines/sites_$f.yaml", docs.mkString("---\n"))
    }

    // what the engine must find
    val edges = siteIdx.flatMap { k =>
      val s = sites(k)
      val r = regions(k % Regions)
      def id(layer: String, fg: String) = s"${r}_$layer.${fg}_$s"
      val peerSummary = {
        val p = (k + peerOffset) % Sites
        s"${regions(p % Regions)}_gold.summary_${sites(p)}"
      }
      val ingestIds = entities.map(e => id("bronze", s"ingest_$e"))
      Seq(
        id("silver", s"conform_$e1") -> Set(ingestIds(0)),
        id("silver", "combine") -> Set(ingestIds(1), ingestIds(2)),
        id("silver", "enrich") -> Set(id("silver", s"conform_$e1"), id("silver", "combine")),
        id("gold", "summary") -> Set(id("silver", "enrich"), id("silver", s"conform_$e1")),
        id("gold", "compare") -> Set(id("gold", "summary"), peerSummary),
        id("ops", "audit") -> Set(id("gold", "compare"), id("silver", "combine")),
        id("ops", "report") -> Set(id("ops", "audit"), id("gold", "summary"))) ++
        ingestIds.map(_ -> Set.empty[String])
    }.toMap
    Expected(
      flowgroups = Sites * 10,
      // 3 bronze x 3 + conform 3 + combine 3 + 5 single-action views
      actions = Sites * 20,
      pipelines = regions.flatMap(r =>
        Seq("bronze", "silver", "gold", "ops").map(l => s"${r}_$l")).toSet,
      edges = edges,
      generations = Generations,
      files = files.size)
  }
}
