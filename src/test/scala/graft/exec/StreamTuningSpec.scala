package graft.exec

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.SparkSuite
import graft.config.YamlConfig

/** Dedups its one input — a stateful operator upstream of whatever write
  * consumes the transform. */
class DedupChanges extends TransformFunction {
  def apply(inputs: Seq[DataFrame], spark: org.apache.spark.sql.SparkSession,
      parameters: Map[String, Any]): DataFrame = inputs.head.dropDuplicates("id", "seq")
}

class StreamTuningSpec extends SparkSuite {
  import spark.implicits._

  private val Mib128 = 128L * 1024 * 1024
  private val key = "spark.sql.shuffle.partitions"
  private def session = spark.conf.get(key)

  /** The `spark.sql.shuffle.partitions` a checkpoint pinned at its first
    * batch — the value every restart of that stream re-applies. */
  private def pinnedPartitions(checkpoint: java.io.File): Int = {
    val offsets = new java.io.File(checkpoint, "offsets/0")
    assert(offsets.isFile, s"no first batch in $checkpoint")
    val text = new String(Files.readAllBytes(offsets.toPath), "UTF-8")
    s""""$key":"(\\d+)"""".r.findFirstMatchIn(text).get.group(1).toInt
  }

  private def checkpointsUnder(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (new java.io.File(f, "offsets").isDirectory) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(walk)
    walk(new java.io.File(root))
  }

  test("partitionsFor: ceil(bytes / 128 MiB) at the boundaries, clamped below the session") {
    assert(StreamTuning.partitionsFor(0L, 32).contains(1))
    assert(StreamTuning.partitionsFor(1L, 32).contains(1))
    assert(StreamTuning.partitionsFor(Mib128, 32).contains(1))
    assert(StreamTuning.partitionsFor(Mib128 + 1, 32).contains(2))
    // at or above the session value: keep it (never raise parallelism)
    assert(StreamTuning.partitionsFor(32 * Mib128, 32).isEmpty)
    assert(StreamTuning.partitionsFor(31 * Mib128, 32).contains(31))
    // the listing guard's sentinel: the largest sources keep the session
    // value — `bytes + per - 1` wrapped negative here and pinned 1
    assert(StreamTuning.partitionsFor(Long.MaxValue, 32).isEmpty)
    assert(StreamTuning.partitionsFor(Long.MaxValue, Int.MaxValue).isEmpty)
  }

  test("merge sinks keep the session value; stateless plans never derive") {
    val dir = Files.createTempDirectory("graft-st").toString
    Seq((1L, 1L)).toDF("id", "seq").write.json(s"$dir/in")
    val src = spark.readStream.schema("id BIGINT, seq BIGINT").json(s"$dir/in")
    assert(StreamTuning.derivePartitions(src.dropDuplicates("id"), merges = false).contains(1))
    assert(StreamTuning.derivePartitions(src.dropDuplicates("id"), merges = true).isEmpty)
    assert(StreamTuning.derivePartitions(src, merges = false).isEmpty)
  }

  test("a streaming dropDuplicates upstream of a CDC merge keeps the session's partition count") {
    val dir = Files.createTempDirectory("graft-st-cdc").toString
    val landing = s"$dir/landing"
    Seq((1L, 1L, "NY"), (1L, 1L, "NY"), (1L, 2L, "LA"), (2L, 1L, "SF"))
      .toDF("id", "seq", "city").write.json(landing)
    def flowgroup(name: String, write: String) = YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: $name
         |actions:
         |  - name: load_changes
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, city STRING"
         |    target: v_changes
         |  - name: dedup_changes
         |    type: transform
         |    transform_type: function
         |    source: v_changes
         |    function: graft.exec.DedupChanges
         |    target: v_dedup
         |  - name: write_$name
         |    type: write
         |    source: v_dedup
         |$write""".stripMargin)
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    runner.run(flowgroup("merged",
      """    write_target: {type: streaming_table, table: dim}
        |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1}
        |""".stripMargin))
    runner.run(flowgroup("appended",
      """    write_target: {type: streaming_table, table: raw}
        |""".stripMargin))
    assert(store.read("dim").select("id", "city").as[(Long, String)].collect().toSet ==
      Set((1L, "LA"), (2L, "SF")))
    assert(store.read("raw").count() == 3)
    val pinned = checkpointsUnder(s"$dir/cp")
      .map(c => c.getName -> pinnedPartitions(c)).toMap
    // the merge keeps the session's 4; the same stateful plan appended
    // derives from its few bytes of input
    assert(pinned == Map("write_merged" -> session.toInt, "write_appended" -> 1))
  }

  test("stress: stream starts never leak a derived count into concurrent batch planning") {
    val dir = Files.createTempDirectory("graft-st-stress").toString
    (0 until 3).foreach(i => Seq((i.toLong, 1L)).toDF("id", "seq")
      .write.mode("append").json(s"$dir/in"))
    val expected = StreamTuning.derivePartitions(
      spark.readStream.schema("id BIGINT, seq BIGINT").json(s"$dir/in")
        .dropDuplicates("id"), merges = false)
    assert(expected.contains(1))
    // progress of streams on session clones reaches the shared bus, not
    // the runner session's StreamingQueryManager
    val stateParts = TrieMap.empty[String, Int]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent
            if p.progress.name != null && p.progress.name.startsWith("stress_") &&
              p.progress.stateOperators.nonEmpty =>
          stateParts.put(p.progress.name, p.progress.stateOperators(0).numShufflePartitions.toInt)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val streams = 6
    val sessionValue = session
    @volatile var done = false
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val planner = new Thread(() => {
      while (!done) {
        val agg = spark.range(100).groupBy((col("id") % 7).as("k")).count()
        val planned = agg.queryExecution.sparkPlan.collect {
          case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions.toString
        }
        seen.synchronized { seen += session; seen ++= planned }
      }
    })
    planner.start()
    try {
      (1 to streams).foreach { i =>
        StreamTuning.run(spark.readStream.schema("id BIGINT, seq BIGINT").json(s"$dir/in")
          .dropDuplicates("id"), merges = false)(_
          .queryName(s"stress_$i")
          .foreachBatch((b: DataFrame, _: Long) => b.count(): Unit)
          .option("checkpointLocation", s"$dir/cp/$i")
          .trigger(Trigger.AvailableNow()))
      }
    } finally { done = true; planner.join() }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (stateParts.size < streams && System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    assert(seen.nonEmpty && seen.forall(_ == sessionValue), seen.distinct)
    assert(stateParts.toMap == (1 to streams).map(i => s"stress_$i" -> expected.get).toMap)
    assert((1 to streams).forall(i =>
      pinnedPartitions(new java.io.File(s"$dir/cp/$i")) == expected.get))
  }
}
