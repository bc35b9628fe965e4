package graft.exec

import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import graft.config.YamlConfig

/** Exactly-once for the STANDARD streaming_table append path under crash.
  *
  * Structured Streaming's foreachBatch contract is at-least-once: a crash
  * after the batch handler commits its side effects but before the
  * checkpoint's commit marker lands re-delivers the same batch on restart.
  * The CDC path absorbs replay because MERGE is idempotent by key; the
  * plain append path must absorb it via deterministic per-(flow, batch)
  * file placement (TableStore.appendBatch), and the change-log sidecar via
  * its (flow, batch) commit dedup. These specs forge the exact crash state
  * — offsets written, data committed, commit marker missing — by deleting
  * the newest `commits/<N>` file from a flow's checkpoint, then re-run. */
class CrashResumeSpec extends SparkSuite {
  import spark.implicits._

  private def freshRunner(): (PipelineRunner, TableStore, String) = {
    val dir = Files.createTempDirectory("graft-crash").toString
    val store = new TableStore(spark, s"$dir/warehouse")
    (new PipelineRunner(spark, store, s"$dir/checkpoints"), store, dir)
  }

  /** Forge the post-crash checkpoint state: drop the newest commit marker
    * so the next run replays the already-applied batch. */
  private def dropNewestCommit(checkpointDir: String): Unit = {
    val commits = Paths.get(checkpointDir, "commits")
    assert(Files.exists(commits), s"no commits dir at $commits")
    val newest = Files.list(commits).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    // the local-FS checksum sibling must go with it or the restarted
    // query's commit rename trips over the stale .crc
    Files.deleteIfExists(
      commits.resolve(s".${newest.getFileName.toString}.crc")): Unit
  }

  private def fanInYaml(landing1: String, landing2: String): String =
    s"""pipeline: cr
       |flowgroup: fanin
       |actions:
       |  - name: l1
       |    type: load
       |    source: {type: cloudfiles, path: $landing1, format: json, readMode: stream,
       |              table_schema: "id BIGINT, v STRING"}
       |    target: v1
       |  - name: l2
       |    type: load
       |    source: {type: cloudfiles, path: $landing2, format: json, readMode: stream,
       |              table_schema: "id BIGINT, v STRING"}
       |    target: v2
       |  - name: w1
       |    type: write
       |    source: v1
       |    write_target: {type: streaming_table, table: t, change_log: true}
       |  - name: w2
       |    type: write
       |    source: v2
       |    write_target: {type: streaming_table, table: t, change_log: true}
       |""".stripMargin

  test("fan-in append survives a crash-window replay without duplicates") {
    val (runner, store, dir) = freshRunner()
    val (landing1, landing2) = (s"$dir/landing1", s"$dir/landing2")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.json(landing1)
    Seq((10L, "x")).toDF("id", "v").write.json(landing2)
    runner.run(YamlConfig.parseFlowGroup(fanInYaml(landing1, landing2)))
    assert(store.read("t").count() == 3)

    // crash state: flow w1's batch committed data + change log, but its
    // checkpoint commit marker was lost — the re-run re-delivers the batch
    dropNewestCommit(s"$dir/checkpoints/cr/fanin/w1")
    runner.run(YamlConfig.parseFlowGroup(fanInYaml(landing1, landing2)))
    val rows = store.read("t").select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (10L, "x")),
      s"replayed batch duplicated rows: $rows")
    // the change-log sidecar absorbed the replay too: one commit per
    // (flow, batch), not one per delivery
    val changes = store.read("t__changes")
    assert(changes.count() == 3, changes.collect().mkString(", "))

    // and the replay is not a data-loss skip either: NEW files after the
    // forged crash still flow through the same checkpoint
    Seq((3L, "c")).toDF("id", "v").write.mode("append").json(landing1)
    runner.run(YamlConfig.parseFlowGroup(fanInYaml(landing1, landing2)))
    assert(store.read("t").count() == 4)
    assert(store.read("t__changes").count() == 4)
  }

  private def scd1DeletesYaml(landing: String): String =
    s"""pipeline: cr
       |flowgroup: scd1
       |actions:
       |  - name: l
       |    type: load
       |    source: {type: cloudfiles, path: $landing, format: json, readMode: stream,
       |              table_schema: "id BIGINT, seq BIGINT, v STRING"}
       |    target: v_ch
       |  - name: w
       |    type: write
       |    source: v_ch
       |    write_target: {type: streaming_table, table: dim, change_log: true}
       |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1,
       |                 apply_as_deletes: "v = 'DEL'"}
       |""".stripMargin

  test("a replayed delete batch keeps its tombstones (change log commit skipped)") {
    // the replay's change-log commit is skipped by the txn sidecar, so its
    // tombstone candidates must come from the re-delivered batch itself
    val batches = Seq(
      Seq((1L, 1L, "a"), (2L, 1L, "x")),
      Seq((1L, 5L, "DEL"), (3L, 2L, "c")))
    def state(store: TableStore): (Set[(Long, Long, String)], Set[(Long, Long)]) = (
      store.read("dim").select("id", "seq", "v").as[(Long, Long, String)].collect().toSet,
      store.read("dim__tombstones").select("id", "seq").as[(Long, Long)].collect().toSet)
    def feed(runner: PipelineRunner, landing: String, rows: Seq[(Long, Long, String)]): Unit = {
      rows.toDF("id", "seq", "v").write.mode("append").json(landing)
      runner.run(YamlConfig.parseFlowGroup(scd1DeletesYaml(landing)))
    }
    // reference: the same batches without a crash
    val (refRunner, refStore, refDir) = freshRunner()
    batches.foreach(feed(refRunner, s"$refDir/landing", _))

    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/landing"
    batches.foreach(feed(runner, landing, _))
    // crash state: the delete batch committed the merge, the tombstones and
    // the change log, but its checkpoint commit marker was lost
    dropNewestCommit(s"$dir/checkpoints/cr/scd1/w")
    runner.run(YamlConfig.parseFlowGroup(scd1DeletesYaml(landing)))
    assert(Files.exists(Paths.get(s"$dir/checkpoints/cr/scd1/w/commits/1")),
      "the delete batch was not re-delivered")
    assert(store.committedTxns("dim__changes").size == 2)
    assert(store.read("dim__changes").select("_commit_version").distinct().count() == 2,
      "the replay logged its batch a second time")
    assert(state(store) == state(refStore))
    assert(state(store)._2 == Set((1L, 5L)))
    // a late event below the replayed delete stays dead
    feed(runner, landing, Seq((1L, 3L, "stale")))
    assert(store.read("dim").select("id").as[Long].collect().toSet == Set(2L, 3L),
      "a late event below the replayed delete resurrected the key")
  }

  test("replay after a partial physical append converges (no stale attempt files)") {
    val (_, store, dir) = freshRunner()
    // first attempt of (flow, batch 0) crashes mid-move: simulate by an
    // appendBatch that wrote MORE files than the replay will (different
    // physical split, same data) — the replay must supersede it entirely
    val df4 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v").repartition(4)
    store.appendBatch("pt", df4, flowId = "p/f/w", batchId = 0L)
    val df1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v").coalesce(1)
    store.appendBatch("pt", df1, flowId = "p/f/w", batchId = 0L)
    assert(store.read("pt").count() == 4, "replay left stale attempt files")
    // a DIFFERENT batch from the same flow appends, never replaces
    store.appendBatch("pt", Seq((5L, "e")).toDF("id", "v"), "p/f/w", 1L)
    assert(store.read("pt").count() == 5)
    // ...and a different flow's same batch id is independent (fan-in)
    store.appendBatch("pt", Seq((6L, "f")).toDF("id", "v"), "p/f/w2", 0L)
    assert(store.read("pt").count() == 6)
  }

  test("partitioned appendBatch replay converges per partition directory") {
    val (_, store, _) = freshRunner()
    val batch = Seq((1L, "us", "a"), (2L, "us", "b"), (3L, "eu", "c"))
      .toDF("id", "region", "v")
    store.appendBatch("ppt", batch.repartition(3), "p/f/w", 0L, Seq("region"))
    store.appendBatch("ppt", batch.coalesce(1), "p/f/w", 0L, Seq("region"))
    assert(store.read("ppt").count() == 3)
    assert(store.read("ppt").select("region").distinct().count() == 2)
  }
}
