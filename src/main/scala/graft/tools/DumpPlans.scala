package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dump `.explain("formatted")` for the named queries (or all) to one file
  * per query under an output directory — the optimization-round plan
  * artifacts (`plans/rNN/<query>_<suffix>.txt`). Session settings mirror
  * Bench.main (master/shuffle partitions from SPARK_GRAFT_CPUS, UTC,
  * nanosAsLong) so the captured plans are the plans the bench times.
  *
  * Usage: `runMain graft.tools.DumpPlans <outDir> <suffix> [query ...]`
  * env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  *
  * NOTE: composition gates execute their pipelines when the query function
  * is invoked; the captured plan is the final table read the bench's noop
  * sink times. For those, the interesting per-action plans are on stderr
  * with `spark.graft.timing` via ProfileQuery.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <outDir> <suffix> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(outDir)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // queryExecution.explainString gives exactly explain("formatted")'s text
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[plans] wrote $n ($suffix, ${txt.length} chars)")
    }
    spark.stop()
  }
}
