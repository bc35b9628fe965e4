package graft.exec

import java.nio.file.Files

import graft.SparkSuite
import graft.config.YamlConfig

class ChangeLogSpec extends SparkSuite {
  import spark.implicits._

  test("change_log maintains a CDF-style __changes companion table") {
    val dir = Files.createTempDirectory("graft-cdf").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def yamlFor(view: String) =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: cdf_dim, change_log: true}
         |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1, apply_as_deletes: "op = 'D'"}
         |""".stripMargin

    Seq((1, 1L, "a", "U"), (2, 1L, "b", "U")).toDF("id", "seq", "v", "op")
      .createOrReplaceTempView("cdf_b1")
    runner.run(YamlConfig.parseFlowGroup(yamlFor("cdf_b1")))
    Seq((1, 2L, "a2", "U"), (2, 2L, "b", "D")).toDF("id", "seq", "v", "op")
      .createOrReplaceTempView("cdf_b2")
    runner.run(YamlConfig.parseFlowGroup(yamlFor("cdf_b2")))

    // current state: id=1 updated, id=2 deleted
    assert(store.read("cdf_dim").select("id", "v").as[(Int, String)].collect().toSet
      == Set((1, "a2")))
    // change feed: 2 commits, 4 change rows, delete marked
    val changes = store.read("cdf_dim__changes")
    assert(changes.count() == 4)
    assert(changes.select("_commit_version").distinct().as[Long].collect().toSet == Set(0L, 1L))
    assert(changes.filter("_change_type = 'delete'")
      .select("id").as[Int].collect().toSeq == Seq(2))

    // bounded CDF read back through the YAML surface: a delta load with
    // readChangeFeed + version window reads exactly commit 1's rows
    val reader = new PipelineRunner(spark, store, s"$dir/cp2")
    reader.execute(YamlConfig.parseFlowGroup(
      s"""pipeline: p2
         |flowgroup: f2
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: delta, table: cdf_dim,
         |             options: {readChangeFeed: "true",
         |                       startingVersion: "1", endingVersion: "1"}}
         |    target: window
         |""".stripMargin).actions.head)
    val window = reader.view("window")
    assert(window.select("_commit_version").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(window.select("id", "_change_type").as[(Int, String)].collect().toSet
      == Set((1, "upsert"), (2, "delete")))

    // version_as_of by change-log replay: state at v0 = batch 1's merge
    // (both keys present), state at v1 = current (id=2 deleted)
    def asOf(v: Long) = {
      reader.execute(YamlConfig.parseFlowGroup(
        s"""pipeline: p3
           |flowgroup: f3
           |actions:
           |  - name: l
           |    type: load
           |    source: {type: delta, table: cdf_dim, version_as_of: $v}
           |    target: tt_$v
           |""".stripMargin).actions.head)
      reader.view(s"tt_$v").select("id", "v").as[(Int, String)].collect().toSet
    }
    assert(asOf(0) == Set((1, "a"), (2, "b")))
    assert(asOf(1) == Set((1, "a2")))
    assert(asOf(1) == store.read("cdf_dim").select("id", "v")
      .as[(Int, String)].collect().toSet) // latest version == current table
  }

  test("version_as_of: append tables replay by version filter; non-replayable CDC is loud") {
    val dir = Files.createTempDirectory("graft-tt").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def appendYaml(view: String) =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: app_t, change_log: true}
         |""".stripMargin
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("app_b1")
    Seq((2, "b")).toDF("id", "v").createOrReplaceTempView("app_b2")
    runner.run(YamlConfig.parseFlowGroup(appendYaml("app_b1")))
    runner.run(YamlConfig.parseFlowGroup(appendYaml("app_b2")))
    def asOf(table: String, v: Long) = {
      runner.execute(YamlConfig.parseFlowGroup(
        s"""pipeline: p2
           |flowgroup: f2
           |actions:
           |  - name: l
           |    type: load
           |    source: {type: delta, table: $table, version_as_of: $v}
           |    target: tt_${table}_$v
           |""".stripMargin).actions.head)
      runner.view(s"tt_${table}_$v")
    }
    assert(asOf("app_t", 0).select("id").as[Int].collect().toSeq == Seq(1))
    assert(asOf("app_t", 1).select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))

    // SCD2 replays too (the merge is rebuild-from-versions, so the bounded
    // log rebuilds the same history): state at v0 = history after batch 1,
    // state at v1 = the current table, start/end columns included
    def scd2Yaml(view: String) =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: scd2_t, change_log: true}
         |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 2}
         |""".stripMargin
    Seq((1, 1L, "a")).toDF("id", "seq", "v").createOrReplaceTempView("scd2_b1")
    runner.run(YamlConfig.parseFlowGroup(scd2Yaml("scd2_b1")))
    val histAtV0 = store.read("scd2_t").collect().toSet
    Seq((1, 2L, "a2")).toDF("id", "seq", "v").createOrReplaceTempView("scd2_b2")
    runner.run(YamlConfig.parseFlowGroup(scd2Yaml("scd2_b2")))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select(store.read("scd2_t").columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
        .collect().toSet
    assert(sorted(asOf("scd2_t", 0)) == histAtV0)
    assert(sorted(asOf("scd2_t", 1)) == store.read("scd2_t").collect().toSet)

    // truncates depend on batch boundaries the log does not keep → loud
    Seq((1, 1L, "a", "T")).toDF("id", "seq", "v", "op").createOrReplaceTempView("tr_b1")
    runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: tr_b1}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: tr_t, change_log: true}
         |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1,
         |                 apply_as_truncates: "op = 'T'"}
         |""".stripMargin))
    val e = intercept[graft.plan.Planner.PlanError](asOf("tr_t", 0))
    assert(e.getMessage.contains("truncate"))
    // and a table with NO change log at all is equally loud
    store.overwrite("bare_t", Seq((1, "x")).toDF("id", "v"))
    val e2 = intercept[graft.plan.Planner.PlanError](asOf("bare_t", 0))
    assert(e2.getMessage.contains("change_log"))

    // version out of range: a typo'd future version must not present the
    // current table as a past snapshot (Delta throws here too)
    val e3 = intercept[graft.plan.Planner.PlanError](asOf("app_t", 99))
    assert(e3.getMessage.contains("out of range") && e3.getMessage.contains("0..1"))
    val e4 = intercept[graft.plan.Planner.PlanError](asOf("app_t", -1))
    assert(e4.getMessage.contains("out of range"))

    // a FAN-IN log written under different merge options degrades to
    // 'mixed' and refuses replay (neither option set reconstructs it)
    Seq((9, 9L, "z")).toDF("id", "seq", "v").createOrReplaceTempView("mix_b")
    runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: mix_b}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: app_t, change_log: true}
         |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1}
         |""".stripMargin))
    val e5 = intercept[graft.plan.Planner.PlanError](asOf("app_t", 0))
    assert(e5.getMessage.contains("DIFFERENT merge options"))

    // a pre-replay-sidecar log (older engine) gets the actionable message
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      store.path("scd2_t__changes") + "._replay"))
    val e6 = intercept[graft.plan.Planner.PlanError](asOf("scd2_t", 0))
    assert(e6.getMessage.contains("no replay sidecar"))
  }

  test("commit integrity: counter advances only after append; half-commits are loud; separator column names rejected") {
    val dir = Files.createTempDirectory("graft-ci").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def appendYaml(view: String, table: String, cdc: String = "") =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: $table, change_log: true}
         |$cdc""".stripMargin

    // nextCommitVersion is a pure peek — repeated calls do not advance
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("ci_b1")
    runner.run(YamlConfig.parseFlowGroup(appendYaml("ci_b1", "ci_t")))
    assert(store.nextCommitVersion("ci_t__changes", "_commit_version") == 1L)
    assert(store.nextCommitVersion("ci_t__changes", "_commit_version") == 1L)
    assert(store.currentCommitVersion("ci_t__changes").contains(0L))

    // a commit interrupted between append and counter-advance (simulated by
    // rolling the counter back) is detected loudly, not replayed wrong
    Seq((2, "b")).toDF("id", "v").createOrReplaceTempView("ci_b2")
    runner.run(YamlConfig.parseFlowGroup(appendYaml("ci_b2", "ci_t")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(store.path("ci_t__changes") + "._version"), "0")
    val e = intercept[graft.plan.Planner.PlanError](runner.execute(
      YamlConfig.parseFlowGroup(
        s"""pipeline: p2
           |flowgroup: f2
           |actions:
           |  - name: l
           |    type: load
           |    source: {type: delta, table: ci_t, version_as_of: 0}
           |    target: tt
           |""".stripMargin).actions.head))
    assert(e.getMessage.contains("interrupted"))

    // the NEXT write to the table must also refuse: nextCommitVersion is a
    // pure peek, so a retry after the crash would re-append the batch at
    // the SAME version — duplicate rows that then pass every read-side
    // check (the inverse crash window of the counter-first ordering). The
    // real crash leaves the commit-intent marker set (it clears only after
    // a completed commit), which is what arms the write-path probe.
    store.setMeta("ci_t__changes", "commit_intent", "1")
    Seq((3, "c")).toDF("id", "v").createOrReplaceTempView("ci_b3")
    val eW = intercept[graft.plan.Planner.PlanError](runner.run(
      YamlConfig.parseFlowGroup(appendYaml("ci_b3", "ci_t"))))
    assert(eW.getMessage.contains("interrupted") &&
      eW.getMessage.contains("write 'w'"), eW.getMessage)

    // CDF window reads share the contract — a bounded readChangeFeed over
    // the corrupted log is loud, not silently serving half-commit rows
    val eCdf = intercept[graft.plan.Planner.PlanError](runner.execute(
      YamlConfig.parseFlowGroup(
        s"""pipeline: p3
           |flowgroup: f3
           |actions:
           |  - name: l
           |    type: load
           |    source: {type: delta, table: ci_t,
           |             options: {readChangeFeed: "true", startingVersion: "0"}}
           |    target: cdf_v
           |""".stripMargin).actions.head))
    assert(eCdf.getMessage.contains("interrupted"), eCdf.getMessage)

    // restoring the counter heals every path: the armed probe finds the
    // log clean, the write proceeds, and the completed commit clears the
    // intent marker
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(store.path("ci_t__changes") + "._version"), "1")
    runner.run(YamlConfig.parseFlowGroup(appendYaml("ci_b3", "ci_t")))
    assert(store.currentCommitVersion("ci_t__changes").contains(2L))
    assert(store.getMeta("ci_t__changes", "commit_intent").isEmpty)

    // CDC column names carrying replay-sidecar separators are rejected at
    // write time — they would round-trip into different merge options
    Seq((1, 1L, "a")).toDF("k,x", "seq", "v").createOrReplaceTempView("ci_sep")
    val eSep = intercept[graft.plan.Planner.PlanError](runner.run(
      YamlConfig.parseFlowGroup(appendYaml("ci_sep", "sep_t",
        """    cdc_config: {keys: ["k,x"], sequence_by: seq, scd_type: 1}
          |""".stripMargin))))
    assert(eSep.getMessage.contains("separator"))
  }

  test("timestamp time travel and timestamp CDF bounds resolve via the commit-ts sidecar") {
    val dir = Files.createTempDirectory("graft-tts").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def yaml(view: String) =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: ts_t, change_log: true}
         |""".stripMargin
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("ts_b1")
    Seq((2, "b")).toDF("id", "v").createOrReplaceTempView("ts_b2")
    runner.run(YamlConfig.parseFlowGroup(yaml("ts_b1")))
    runner.run(YamlConfig.parseFlowGroup(yaml("ts_b2")))
    val commits = store.commitTimestamps("ts_t__changes")
    assert(commits.map(_._1) == Seq(0L, 1L) && commits.forall(_._2 > 0))

    def loadWith(srcExtra: String, tgt: String) = {
      runner.execute(YamlConfig.parseFlowGroup(
        s"""pipeline: p2
           |flowgroup: f2
           |actions:
           |  - name: l
           |    type: load
           |    source: {type: delta, table: ts_t, $srcExtra}
           |    target: $tgt
           |""".stripMargin).actions.head)
      runner.view(tgt)
    }
    // timestamp_as_of at exactly commit 0's recorded wall-clock = state at v0
    val t0 = commits.head._2
    assert(loadWith(s"timestamp_as_of: $t0", "tt_ts0")
      .select("id").as[Int].collect().toSeq == Seq(1))
    // ... and at commit 1's = the full state
    assert(loadWith(s"timestamp_as_of: ${commits(1)._2}", "tt_ts1")
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // before the first commit: loud
    val e = intercept[graft.plan.Planner.PlanError](
      loadWith(s"timestamp_as_of: ${t0 - 1}", "tt_tsx"))
    assert(e.getMessage.contains("before"))
    // timestamp CDF window covering only commit 1
    val win = loadWith(
      s"""options: {readChangeFeed: "true", startingTimestamp: "${commits(1)._2}"}""",
      "tt_win")
    assert(win.select("id").as[Int].collect().toSeq == Seq(2))
    // human-readable timestamps parse too: a far-future UTC date resolves
    // to the latest commit (Delta timestampAsOf = latest at-or-before)
    assert(loadWith("timestamp_as_of: \"2099-01-01\"", "tt_far")
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // UNQUOTED YAML date (arrives as java.util.Date): canonicalized, works
    assert(loadWith("timestamp_as_of: 2099-01-01", "tt_unq")
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))

    // resolved start above resolved end: loud, not a silent empty frame
    val eRange = intercept[graft.plan.Planner.PlanError](loadWith(
      s"""options: {readChangeFeed: "true", startingVersion: "1",
         |             endingTimestamp: "${commits.head._2}"}""".stripMargin, "tt_rng"))
    assert(eRange.getMessage.contains("range is empty"))

    // compact yyyyMMdd would silently read as 1970-era epoch millis: loud
    val eCompact = intercept[graft.plan.Planner.PlanError](
      loadWith("timestamp_as_of: \"20990101\"", "tt_cmp"))
    assert(eCompact.getMessage.contains("ambiguous numeric"))

    // PARTIAL timestamp coverage (pre-upgrade commits unrecorded): loud —
    // simulate by dropping version 0's line from the sidecar
    val tsPath = java.nio.file.Paths.get(store.path("ts_t__changes") + "._commit_ts")
    val lines = java.nio.file.Files.readString(tsPath).linesIterator.toSeq
    java.nio.file.Files.writeString(tsPath, lines.drop(1).mkString("", "\n", "\n"))
    val ePartial = intercept[graft.plan.Planner.PlanError](
      loadWith(s"timestamp_as_of: ${commits(1)._2}", "tt_par"))
    assert(ePartial.getMessage.contains("PARTIAL"))
    // version bounds still work on the same log (they never touch the sidecar)
    assert(loadWith("version_as_of: 1", "tt_ver")
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("skipChangeCommits streams only blind-append commits; guards are loud") {
    val dir = Files.createTempDirectory("graft-skip").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def writeYaml(view: String, table: String, cdc: String = "") =
      s"""pipeline: p
         |flowgroup: f_$view
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: $table, change_log: true}
         |$cdc""".stripMargin
    // commits: v0 append, v1 append, v2 CDC merge (rewrite)
    Seq((1, 10L, "a")).toDF("k", "seq", "v").createOrReplaceTempView("sk_b1")
    Seq((2, 20L, "b")).toDF("k", "seq", "v").createOrReplaceTempView("sk_b2")
    Seq((1, 30L, "A")).toDF("k", "seq", "v").createOrReplaceTempView("sk_b3")
    runner.run(YamlConfig.parseFlowGroup(writeYaml("sk_b1", "sk_t")))
    runner.run(YamlConfig.parseFlowGroup(writeYaml("sk_b2", "sk_t")))
    runner.run(YamlConfig.parseFlowGroup(writeYaml("sk_b3", "sk_t",
      """    cdc_config: {keys: [k], sequence_by: seq, scd_type: 1}
        |""".stripMargin)))
    assert(store.commitKinds("sk_t__changes") ==
      Seq((0L, "append"), (1L, "append"), (2L, "rewrite")))
    // the skip stream serves the two append batches — NOT the merged table
    // state (k=1 now carries "A" there) and NOT the merge's change rows
    runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p2
         |flowgroup: f2
         |actions:
         |  - name: l
         |    type: load
         |    readMode: stream
         |    source: {type: delta, table: sk_t,
         |             options: {skipChangeCommits: "true"}}
         |    target: v_app
         |  - name: w
         |    type: write
         |    source: v_app
         |    write_target: {type: streaming_table, table: sk_out}
         |""".stripMargin))
    assert(store.read("sk_out").select("k", "seq", "v").as[(Int, Long, String)]
      .collect().toSet == Set((1, 10L, "a"), (2, 20L, "b")))

    // guards: batch mode is a parse error; a table without a change log is
    // a PlanError; readChangeFeed + skipChangeCommits stays incompatible
    val eBatch = intercept[YamlConfig.ConfigError](YamlConfig.parseFlowGroup(
      """pipeline: p
        |flowgroup: f
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: delta, table: sk_t, options: {skipChangeCommits: "true"}}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target: {type: streaming_table, table: out}
        |""".stripMargin))
    assert(eBatch.msg.contains("readMode: stream"), eBatch.msg)
    store.overwrite("sk_plain", Seq((1, "x")).toDF("id", "v"))
    val eNoLog = intercept[graft.plan.Planner.PlanError](runner.execute(
      YamlConfig.parseFlowGroup(
        """pipeline: p
          |flowgroup: f3
          |actions:
          |  - name: l
          |    type: load
          |    readMode: stream
          |    source: {type: delta, table: sk_plain, options: {skipChangeCommits: "true"}}
          |    target: v
          |  - name: w
          |    type: write
          |    source: v
          |    write_target: {type: streaming_table, table: out}
          |""".stripMargin).actions.head))
    assert(eNoLog.getMessage.contains("change_log"), eNoLog.getMessage)
    // a table that merely has a `__changes`-suffixed NAME is not a change
    // log: loading it back must serve rows, not crash probing a
    // _commit_version column it does not have
    store.overwrite("named__changes", Seq((1, "x")).toDF("id", "v"))
    runner.execute(YamlConfig.parseFlowGroup(
      """pipeline: p
        |flowgroup: f5
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: named__changes}
        |    target: v_named
        |  - name: w
        |    type: write
        |    source: v_named
        |    write_target: {type: streaming_table, table: out}
        |""".stripMargin).actions.head)
    assert(runner.view("v_named").count() == 1)
    // a log predating kind recording cannot be skip-filtered — loud
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      store.path("sk_t__changes") + "._commit_kinds"))
    val ePartial = intercept[graft.plan.Planner.PlanError](runner.execute(
      YamlConfig.parseFlowGroup(
        """pipeline: p
          |flowgroup: f4
          |actions:
          |  - name: l
          |    type: load
          |    readMode: stream
          |    source: {type: delta, table: sk_t, options: {skipChangeCommits: "true"}}
          |    target: v
          |  - name: w
          |    type: write
          |    source: v
          |    write_target: {type: streaming_table, table: out}
          |""".stripMargin).actions.head))
    assert(ePartial.getMessage.contains("commit-kind"), ePartial.getMessage)
  }

  test("ignoreDeletes excuses delete-only commits; rewrites stay loud") {
    val dir = Files.createTempDirectory("graft-igdel").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def writeYaml(view: String, cdc: String = "") =
      s"""pipeline: p
         |flowgroup: f_$view
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: ig_t, change_log: true}
         |$cdc""".stripMargin
    val delCdc =
      """    cdc_config: {keys: [k], sequence_by: seq, scd_type: 1,
        |                 apply_as_deletes: "op = 'D'"}
        |""".stripMargin
    // commits: v0 append, v1 delete-ONLY merge (every batch row matches the
    // delete predicate), v2 append
    Seq((1, 10L, "a", "U"), (2, 11L, "b", "U")).toDF("k", "seq", "v", "op")
      .createOrReplaceTempView("ig_b1")
    Seq((1, 20L, "a", "D")).toDF("k", "seq", "v", "op")
      .createOrReplaceTempView("ig_b2")
    Seq((3, 30L, "c", "U")).toDF("k", "seq", "v", "op")
      .createOrReplaceTempView("ig_b3")
    runner.run(YamlConfig.parseFlowGroup(writeYaml("ig_b1")))
    runner.run(YamlConfig.parseFlowGroup(writeYaml("ig_b2", delCdc)))
    runner.run(YamlConfig.parseFlowGroup(writeYaml("ig_b3")))
    // the delete-only merge is its own commit kind — the signal that
    // separates ignoreDeletes (excused) from skipChangeCommits (any rewrite)
    assert(store.commitKinds("ig_t__changes") ==
      Seq((0L, "append"), (1L, "delete"), (2L, "append")))
    // the ignoreDeletes stream serves the append commits' rows and drops the
    // delete commit — with maxFilesPerTrigger rate-limiting along the way
    // (multiple microbatches must still drain everything under availableNow)
    runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p2
         |flowgroup: f2
         |actions:
         |  - name: l
         |    type: load
         |    readMode: stream
         |    source: {type: delta, table: ig_t,
         |             options: {ignoreDeletes: "true", maxFilesPerTrigger: "1"}}
         |    target: v_live
         |  - name: w
         |    type: write
         |    source: v_live
         |    write_target: {type: streaming_table, table: ig_out}
         |""".stripMargin))
    assert(store.read("ig_out").select("k", "seq", "v", "op")
      .as[(Int, Long, String, String)].collect().toSet ==
      Set((1, 10L, "a", "U"), (2, 11L, "b", "U"), (3, 30L, "c", "U")))
    // an UPDATE merge (not delete-only) is a rewrite commit — ignoreDeletes
    // must now fail loudly, naming the wider option; skipChangeCommits
    // still drains, dropping both non-append commits
    Seq((2, 40L, "B", "U")).toDF("k", "seq", "v", "op")
      .createOrReplaceTempView("ig_b4")
    runner.run(YamlConfig.parseFlowGroup(writeYaml("ig_b4", delCdc)))
    assert(store.commitKinds("ig_t__changes").last == (3L, "rewrite"))
    val eRewrite = intercept[graft.plan.Planner.PlanError](runner.execute(
      YamlConfig.parseFlowGroup(
        """pipeline: p3
          |flowgroup: f3
          |actions:
          |  - name: l
          |    type: load
          |    readMode: stream
          |    source: {type: delta, table: ig_t, options: {ignoreDeletes: "true"}}
          |    target: v
          |  - name: w
          |    type: write
          |    source: v
          |    write_target: {type: streaming_table, table: ig_out2}
          |""".stripMargin).actions.head))
    assert(eRewrite.getMessage.contains("skipChangeCommits"), eRewrite.getMessage)
    runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p4
         |flowgroup: f4
         |actions:
         |  - name: l
         |    type: load
         |    readMode: stream
         |    source: {type: delta, table: ig_t,
         |             options: {skipChangeCommits: "true"}}
         |    target: v_app
         |  - name: w
         |    type: write
         |    source: v_app
         |    write_target: {type: streaming_table, table: ig_out3}
         |""".stripMargin))
    assert(store.read("ig_out3").select("k").as[Int].collect().toSet ==
      Set(1, 2, 3))

    // parse guards: both options are stream-only; maxFilesPerTrigger must
    // be a positive integer; ignoreDeletes alongside readChangeFeed is an
    // accepted no-op (Delta parity — the reference e2e fixture uses the
    // combo), not an error
    def loadYaml(opts: String, mode: String = "") =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |$mode    source: {type: delta, table: ig_t, options: {$opts}}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: out}
         |""".stripMargin
    val eBatch = intercept[YamlConfig.ConfigError](
      YamlConfig.parseFlowGroup(loadYaml("""ignoreDeletes: "true"""")))
    assert(eBatch.msg.contains("readMode: stream"), eBatch.msg)
    val eMftBatch = intercept[YamlConfig.ConfigError](
      YamlConfig.parseFlowGroup(loadYaml("""maxFilesPerTrigger: "4"""")))
    assert(eMftBatch.msg.contains("readMode: stream"), eMftBatch.msg)
    val eMftBad = intercept[YamlConfig.ConfigError](YamlConfig.parseFlowGroup(
      loadYaml("""maxFilesPerTrigger: "lots"""", "    readMode: stream\n")))
    assert(eMftBad.msg.contains("positive integer"), eMftBad.msg)
    val cdfCombo = YamlConfig.parseFlowGroup(loadYaml(
      """readChangeFeed: "true", startingVersion: "0", ignoreDeletes: "true"""",
      "    readMode: stream\n")).actions.head.asInstanceOf[graft.model.TableLoad]
    assert(!cdfCombo.ignoreDeletes && cdfCombo.table == "ig_t__changes")
  }

  test("an SCD2 delete-only batch is a rewrite commit — ignoreDeletes stays loud") {
    // SCD2 "deletes" are close-out UPDATES: the existing open rows are
    // rewritten with __end_at, nothing leaves the target. Recording them as
    // kind `delete` would let an ignoreDeletes stream silently excuse an
    // update commit — Delta fails that stream and points at the wider option.
    val dir = Files.createTempDirectory("graft-scd2del").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    def writeYaml(view: String, cdc: String = "") =
      s"""pipeline: p
         |flowgroup: f_$view
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: $view}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: s2d_t, change_log: true}
         |$cdc""".stripMargin
    val scd2Cdc =
      """    cdc_config: {keys: [k], sequence_by: seq, scd_type: 2,
        |                 apply_as_deletes: "op = 'D'"}
        |""".stripMargin
    Seq((1, 10L, "a", "U")).toDF("k", "seq", "v", "op")
      .createOrReplaceTempView("s2d_b1")
    Seq((1, 20L, "a", "D")).toDF("k", "seq", "v", "op")
      .createOrReplaceTempView("s2d_b2")
    runner.run(YamlConfig.parseFlowGroup(writeYaml("s2d_b1", scd2Cdc)))
    runner.run(YamlConfig.parseFlowGroup(writeYaml("s2d_b2", scd2Cdc)))
    assert(store.commitKinds("s2d_t__changes") ==
      Seq((0L, "rewrite"), (1L, "rewrite")))
    val e = intercept[graft.plan.Planner.PlanError](runner.execute(
      YamlConfig.parseFlowGroup(
        """pipeline: p2
          |flowgroup: f2
          |actions:
          |  - name: l
          |    type: load
          |    readMode: stream
          |    source: {type: delta, table: s2d_t, options: {ignoreDeletes: "true"}}
          |    target: v
          |  - name: w
          |    type: write
          |    source: v
          |    write_target: {type: streaming_table, table: s2d_out}
          |""".stripMargin).actions.head))
    assert(e.getMessage.contains("skipChangeCommits"), e.getMessage)
  }

  test("a delete-carrying CDC refresh scans no change-log file") {
    // tombstone candidates come from the batch itself, so a refresh of a
    // change-log table reads none of the log's files: the cost of a
    // delete-carrying batch does not grow with the log's commit count
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft-cdf-scan").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/cp")
    val landing = s"$dir/landing"
    val yaml =
      s"""pipeline: p
         |flowgroup: f
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: cloudfiles, path: $landing, format: json, readMode: stream,
         |             table_schema: "k BIGINT, seq BIGINT, v STRING"}
         |    target: v_ch
         |  - name: w
         |    type: write
         |    source: v_ch
         |    write_target: {type: streaming_table, table: scan_t, change_log: true}
         |    cdc_config: {keys: [k], sequence_by: seq, scd_type: 2,
         |                 apply_as_deletes: "v = 'DEL'"}
         |""".stripMargin
    // refresh i opens key i and deletes key i - 1
    def refresh(i: Long): Unit = {
      Seq((i, 10 * i, "up"), (i - 1, 10 * i, "DEL")).toDF("k", "seq", "v")
        .write.mode("append").json(landing)
      runner.run(YamlConfig.parseFlowGroup(yaml))
    }
    (1L to 10L).foreach(refresh)
    assert(store.read("scan_t__changes").select("_commit_version").distinct().count() == 10)

    val roots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    val marker = s"graft_sentinel_${java.util.UUID.randomUUID()}"
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      private def scanRoots(plan: SparkPlan): Unit = foreach(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths
          .foreach(p => roots.add(java.nio.file.Paths.get(p.toUri.getPath)))
        case m: InMemoryTableScanExec => scanRoots(m.relation.cachedPlan)
        case _ =>
      }
      override def onSuccess(funcName: String, qe: QueryExecution, duration: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) sentinelSeen.countDown()
        else scanRoots(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      refresh(11L)
      // delivery is asynchronous but in order: once the sentinel's own
      // event arrives, every execution of the refresh has been seen
      spark.range(1).select(lit(marker).as("m")).collect()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel query's execution event never arrived")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    def under(t: String) =
      roots.asScala.filter(_.startsWith(java.nio.file.Paths.get(store.path(t)).toAbsolutePath))
    assert(under("scan_t").nonEmpty, s"the refresh's merge scan was not captured: $roots")
    assert(under("scan_t__changes").isEmpty,
      s"the refresh scanned the change log: ${under("scan_t__changes").mkString(", ")}")
    // and the refresh applied: key 11 open, key 10 closed at 110
    assert(store.read("scan_t").filter("k >= 10").select("k", "__end_at")
      .as[(Long, Option[Long])].collect().toSet == Set((10L, Some(110L)), (11L, None)))
  }
}
