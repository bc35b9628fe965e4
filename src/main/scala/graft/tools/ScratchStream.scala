package graft.tools

/** Scratch A/B harness (round 19): run selected queries with TWO
  * alternating conf sets inside ONE JVM/session — the tightest possible
  * control against host noise (same caches, same JIT, interleaved in
  * time). Any conf-gated change (a session conf set differently per
  * side) measures without rebuilding. Not a contract surface.
  *
  * env: SCRATCH_A / SCRATCH_B = "k=v;k=v" conf sets applied before each
  * side's pass; SPARK_GRAFT_ITERS pairs (default 5). args = query regexes.
  */
object ScratchStream {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "5").toInt
    def parse(s: String): Seq[(String, String)] =
      s.split(";").toSeq.filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val confA = parse(sys.env.getOrElse("SCRATCH_A", ""))
    val confB = parse(sys.env.getOrElse("SCRATCH_B", ""))
    val names = args.toList match {
      case Nil => List("q62_ssj")
      case xs  => xs
    }
    val spark = graft.GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables.load(spark, sfDir, t).count()
    }
    val qs = graft.SparkEntry.queries.filter { case (n, _) =>
      names.exists(n.matches) }.toSeq.sortBy(_._1)
    require(qs.nonEmpty, s"no queries match $names")
    val acc = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    (1 to iters).foreach { i =>
      Seq("A" -> confA, "B" -> confB).foreach { case (side, conf) =>
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        qs.foreach { case (n, fn) =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          acc((side, n)) = sec :: acc((side, n))
          println(f"SCRATCH iter=$i side=$side $n%-22s $sec%7.2f s")
        }
      }
    }
    println("=== per-query min/median (A vs B) ===")
    def med(xs: List[Double]) = { val s = xs.sorted; s(s.size / 2) }
    qs.foreach { case (n, _) =>
      val a = acc(("A", n)); val b = acc(("B", n))
      println(f"SUMMARY $n%-24s A min=${a.min}%6.2f med=${med(a)}%6.2f | " +
        f"B min=${b.min}%6.2f med=${med(b)}%6.2f")
    }
    println(f"TOTALMIN A=${qs.map(q => acc(("A", q._1)).min).sum}%.2f " +
      f"B=${qs.map(q => acc(("B", q._1)).min).sum}%.2f")
    spark.stop()
    sys.exit(0)
  }
}
