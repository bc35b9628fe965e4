package graft.tools

/** Per-query profiling harness: run one registry query N times with the
  * runner's per-action timing lines enabled (`spark.graft.timing`), so a
  * slow gate decomposes into WHICH pipeline action pays — the diagnosis
  * seam behind the round-12 gate-overhead work (c8's cost proved to be
  * the near-dup CC + final materialization, NOT warehouse setup, which
  * redirected the fix).
  *
  * Usage: `sbt "runMain graft.tools.ProfileQuery <query_name> [iters]"`
  * (env `SPARK_GRAFT_SF_DIR` selects the data, default sf0.1). Stderr
  * carries `[graft] TIMING pipeline/flowgroup/action N.NNN s` lines per
  * runner action plus one `[prof] iter` total per iteration; iteration 1
  * includes one-time costs (JIT, memoized fixtures/codebooks) — read
  * steady state from the later iterations.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <query_name> [iters]"))
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same parallelism contract as Bench.main — profiling at a different
    // core/partition count than the bench would diagnose the wrong action
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.timing", "true")
    // SPARK_GRAFT_JOBLOG=1: one stderr line per Spark job (duration +
    // description) — decomposes a slow ACTION into its constituent jobs
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          // properties itself can be null for some job submissions — an NPE
          // here is swallowed by the listener bus and silently loses the line
          starts.put(e.jobId, (System.nanoTime(),
            Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")))
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(e.jobId)
          if (s != null) System.err.println(
            f"[job] id=${e.jobId} ${(System.nanoTime() - s._1) / 1e9}%.3f s ${s._2.take(120)}")
        }
      })
    }
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' (have: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ") + ")"))
    graft.sources.Tables.all.foreach(t =>
      graft.sources.Tables.load(spark, dir, t).count())
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      System.err.println(f"[prof] iter $i total ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
