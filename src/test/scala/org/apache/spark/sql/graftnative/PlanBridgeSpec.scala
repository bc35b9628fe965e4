package org.apache.spark.sql.graftnative

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.exec.StreamTuning

class PlanBridgeSpec extends SparkSuite {
  import spark.implicits._

  private def streamBuses(): Int =
    spark.sparkContext.listenerBus.listeners.toArray
      .count(_.isInstanceOf[StreamingQueryListenerBus])

  test("a stream run on a session clone leaves no more listeners than a plain start, and no clone or conf") {
    val dir = Files.createTempDirectory("graft-clone").toString
    Seq((1L, 1L), (2L, 1L)).toDF("id", "seq").write.json(s"$dir/in")
    val key = "spark.sql.shuffle.partitions"
    val sessionValue = spark.conf.get(key)
    def src = spark.readStream.schema("id BIGINT, seq BIGINT").json(s"$dir/in")
      .dropDuplicates("id")
    def runToEnd(df: DataFrame, cp: String) = {
      val q = df.writeStream
        .foreachBatch((b: DataFrame, _: Long) => b.count(): Unit)
        .option("checkpointLocation", s"$dir/cp/$cp")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    spark.streams // the session's own bus is there from the start
    // Spark leaves one bus behind per start of a stateful query: its
    // operators reach the state-store coordinator through the query
    // manager of the query's internal session clone, whose bus is never
    // removed (a stateless start leaves none; see the next test). A plain
    // start of this dedup is the baseline a clone run must meet
    val before = streamBuses()
    runToEnd(src, "plain")
    val plainLeak = streamBuses() - before
    var clone = new java.lang.ref.WeakReference[AnyRef](null)
    (1 to 3).foreach { i =>
      val start = streamBuses()
      val (onClone, detach) = PlanBridge.onClone(src, key, "1")
      clone = new java.lang.ref.WeakReference(onClone.sparkSession)
      assert(onClone.sparkSession ne spark)
      assert(onClone.sparkSession.conf.get(key) == "1")
      val q = try runToEnd(onClone, s"clone_$i") finally detach()
      assert(q.lastProgress.stateOperators(0).numShufflePartitions == 1)
      assert(spark.conf.get(key) == sessionValue)
      assert(streamBuses() - start == plainLeak)
    }
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (clone.get != null && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    assert(clone.get == null, "the last session clone is still reachable")
  }

  test("100 plain stream starts leave as many stream listener buses as 1 start") {
    val dir = Files.createTempDirectory("graft-bus").toString
    Seq((1L, 1L)).toDF("id", "seq").write.json(s"$dir/in")
    // a stateless plan derives no partition count, so every start is
    // plain: the query starts from the caller's session, not a clone.
    // Every runner stream of a medallion refresh (appends, CDC merges) is
    // of this kind
    def start(i: Int): Unit =
      StreamTuning.run(spark.readStream.schema("id BIGINT, seq BIGINT").json(s"$dir/in"),
        merges = false)(_
        .foreachBatch((b: DataFrame, _: Long) => b.count(): Unit)
        .option("checkpointLocation", s"$dir/cp/$i")
        .trigger(Trigger.AvailableNow()))
    start(1)
    val afterOne = streamBuses()
    (2 to 100).foreach(start)
    assert(streamBuses() == afterOne)
  }
}
