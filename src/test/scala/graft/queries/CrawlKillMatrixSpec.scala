package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.exec.{PipelineOrchestrator, TableStore}

/** Kill-point MATRIX for the sustained-crawl chain (the c15 capstone runs
  * ONE point in the bench — the dedup-MV commit; this spec runs the other
  * two, each a nastier window):
  *
  *   - `forge:bm25_fold` — the child dies AFTER the BM25 index swap but
  *     BEFORE the hits MV lands: the resume re-runs the fold flowgroup
  *     against an index that already absorbed the delta, and only the
  *     membership-flag classification keeps it from double-folding every
  *     posting (the c14 legacy-index bug class).
  *   - `batch:c15_raw:2` (generation 1 consumed batches 0-1) — the child
  *     dies BETWEEN ingest microbatches
  *     (maxFilesPerTrigger=1 gives the stream a between-batches window):
  *     one WARC landing file committed, its sibling never read. The resume
  *     must ingest exactly the remainder.
  *
  * Both compare the crashed+resumed warehouse's final AND corpus tables
  * against a never-crashed run of the same two generations — a surviving
  * duplicate, a double-folded posting, or a lost landing file diverges. */
class CrawlKillMatrixSpec extends SparkSuite {

  private val root = Files.createTempDirectory("graft-killmatrix").toString

  /** Tiny two-generation WARC fixture (240 docs; gen2 re-crawls a tenth of
    * gen1 under fresh record ids — real cross-generation dedup work).
    * Records built by the SAME helper the c15 gate uses. */
  private lazy val fixture: String = {
    import spark.implicits._
    val d = (0L until 240L).map(i =>
      (i, s"document $i " + Seq.fill(60)(s"w${(i * 7) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val f = s"$root/fixture"
    graft.sources.WarcBridge.write(
      Extras.warcCrawlRecords(d.filter(col("doc_id") % 2 === 0), 1)
        .repartition(2), s"$f/a")
    graft.sources.WarcBridge.write(
      Extras.warcCrawlRecords(d.filter(col("doc_id") % 2 === 1), 2)
        .unionByName(Extras.warcCrawlRecords(d.filter(col("doc_id") % 10 === 0), 2))
        .repartition(2), s"$f/b")
    f
  }

  private def chain(wh: String, ingestExtra: String): Seq[(String, String)] =
    Extras.c15Yamls(s"$wh/landing", wh, ingestExtra)

  private def runInProcess(wh: String, ingestExtra: String): Unit = {
    val store = new TableStore(spark, s"$wh/wh")
    val fgs = chain(wh, ingestExtra)
      .map(y => graft.config.YamlConfig.parseFlowGroup(y._2))
    val orch = new PipelineOrchestrator(spark, store, s"$wh/cp")
    val outcomes = orch.run(fgs)
    outcomes.find(_.error.isDefined).foreach(o => throw o.error.get)
  }

  /** The never-crashed baseline: both generations in-process. */
  private lazy val expectedWh: String = {
    val wh = s"$root/expected"
    Extras.copyFixture(s"$fixture/a", s"$wh/landing", "a-")
    runInProcess(wh, "")
    Extras.copyFixture(s"$fixture/b", s"$wh/landing", "b-")
    runInProcess(wh, "")
    wh
  }

  private def spawnChild(wh: String, yamlDir: String, haltSpec: String): String = {
    val (code, out) = graft.tools.CrawlResumeChild.spawn(
      s"$wh/wh", s"$wh/cp", yamlDir, haltSpec)
    assert(code == 137,
      s"child was supposed to hard-halt (137) on '$haltSpec', got $code; " +
        s"output tail: ${out.takeRight(800)}")
    out
  }

  private def killPoint(name: String, haltSpec: String, marker: String,
      ingestExtra: String): Unit = {
    val wh = s"$root/$name"
    val yamlDir = s"$wh/yaml"
    Files.createDirectories(Paths.get(yamlDir))
    chain(wh, ingestExtra).foreach { case (n, y) =>
      Files.writeString(Paths.get(s"$yamlDir/$n.yaml"), y): Unit
    }
    // generation 1 clean, generation 2 killed at the matrix point, resume
    Extras.copyFixture(s"$fixture/a", s"$wh/landing", "a-")
    runInProcess(wh, ingestExtra)
    Extras.copyFixture(s"$fixture/b", s"$wh/landing", "b-")
    val out = spawnChild(wh, yamlDir, haltSpec)
    assert(out.contains(marker), s"expected '$marker' in child output; " +
      s"tail: ${out.takeRight(800)}")
    runInProcess(wh, ingestExtra)
    // exactly-once across the kill: corpus (dedup state) and the final
    // join must equal the never-crashed chain
    val store = new TableStore(spark, s"$wh/wh")
    val expStore = new TableStore(spark, s"$expectedWh/wh")
    Seq("c15_corpus", "c15_final").foreach { t =>
      val got = store.read(t)
      val exp = expStore.read(t).select(got.columns.map(col): _*)
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
        s"$name: table $t diverged from the never-crashed run")
    }
  }

  test("an eagerly spawned server child that is never run exits on destroy") {
    // the c15 gate's failure path: generation 1 throws after spawnEager,
    // run() never sends the command, and the booted child would block on
    // stdin for the rest of the parent JVM's life
    val pending = graft.tools.CrawlResumeChild.spawnEager()
    Thread.sleep(2000) // let the child boot past JVM start
    val t0 = System.nanoTime()
    assert(pending.destroy(), "the child was still alive 10 s after destroy")
    assert(System.nanoTime() - t0 < 10L * 1000000000L)
  }

  test("mid-fold kill: index committed, hits MV unborn — resume must not double-fold") {
    killPoint("foldkill", "forge:bm25_fold", "HALTING at bm25_fold", "")
  }

  test("mid-commit kill: index segment staged, manifest never renamed — resume re-folds once") {
    // the r16 segment-manifest window, one step EARLIER than bm25_fold:
    // the delta's segment and df snapshot are on disk but the manifest
    // rename (the commit point) never ran. The live manifest still names
    // only the old state, so the resume re-folds the delta into a fresh
    // segment and sweeps the torn dirs — double postings would diverge
    // the hits MV from the never-crashed chain
    killPoint("manifestkill", "forge:bm25_manifest", "HALTING at bm25_manifest", "")
  }

  test("mid-ingest kill: one WARC file committed, sibling unread — resume ingests the remainder") {
    // batch ids are continuous across generations in one checkpoint:
    // generation 1's two landing files consumed batches 0-1 (one file per
    // trigger), so generation 2's FIRST file commits as batch 2 — halting
    // there leaves its sibling file unread
    killPoint("ingestkill", "batch:c15_raw:2", "HALTING after c15_raw batch 2",
      "\n      options: {cloudFiles.maxFilesPerTrigger: \"1\"}")
  }
}
