package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query `SPARK_GRAFT_ITERS` times
  * (default 3) and reports the per-query MEDIAN — one JSON line. A single
  * pass per round proved unfalsifiable against JVM/environment noise
  * (BENCH_r01 vs r02 diverged 1.55× on queries whose code had not changed),
  * so medians are the contract now; `queries_all` carries the raw
  * per-iteration timings for dispersion checks.
  *
  * A failed query must NOT look like a fast timing: errors are recorded
  * per-query, emitted in the JSON line, and fail the process — the bench
  * cannot lie about a broken query (BenchSpec pins this). */
object Bench {

  final case class Result(json: String, compact: String, errors: Map[String, String])

  def run(spark: SparkSession, sfDir: String, iters: Int,
      queries: Map[String, (SparkSession, String) => DataFrame],
      filter: Option[String] = None): Result = {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val names = queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(n.matches) }
    // benching NOTHING must not read as a massive speedup: a typo'd filter
    // (it is a full-string regex, not a glob) fails loudly
    require(names.nonEmpty,
      s"SPARK_GRAFT_FILTER '${filter.getOrElse("")}' matched no queries " +
        s"(have: ${queries.keys.toSeq.sorted.mkString(", ")})")
    // short-key collisions must abort BEFORE the timing loop — failing
    // after hours of iterations would discard every result with them
    val shortKeys = names.map { case (n, _) => n.takeWhile(_ != '_') }
    require(shortKeys.distinct.size == shortKeys.size,
      "compact bench keys (prefix before first '_') collide: " +
        shortKeys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
          .mkString(", ") + " — rename the new query with a unique prefix")
    // iterate OUTER over passes, INNER over queries: consecutive runs of the
    // same query would share page cache/JIT state unrealistically; interleaving
    // spaces them out the way the driver's one-pass run sees them
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // The timing action is a NOOP-SINK WRITE, not count(): count lets
    // Catalyst prune everything that doesn't affect the row count — a
    // map-shaped query (per-row select over parquet) degrades to a
    // metadata-only scan, and a left join against a provably-unique
    // aggregated side is eliminated outright (d12's entire span pipeline
    // vanished; t1/t3/t4/t5's regex/hash work was never executed). The noop
    // sink materializes EVERY declared output column with zero I/O — the
    // timing measures the query as the oracle gate runs it. BenchSpec pins
    // this with a raise_error column that count-pruning would skip.
    // JVM gauges (GC, heap, state-store providers, codegen churn) are
    // snapped around EVERY timed execution — ~µs of bean reads against
    // multi-second queries — so an in-bench dispersion outlier (r12: q62
    // [10.5, 9.5, 24.6] s inside one JVM) carries its own attribution data
    // instead of demanding a reproduction run. The gauges ride in the full
    // JSON artifact (`diag` map, never the stdout contract line);
    // SPARK_GRAFT_DIAG=1 additionally mirrors them to stderr live.
    val diagStderr = sys.env.get("SPARK_GRAFT_DIAG").exists(_ == "1")
    val diagRows = scala.collection.mutable.ArrayBuffer[String]()
    // gate scaffolding (child-JVM spawn + session lifecycle, recorded by
    // the gates themselves) is drained per timed execution, so the
    // contract line can carry plan_cost = total − scaffolding: a
    // composition gate's lifecycle drift cannot mask (or masquerade as)
    // an engine drift
    graft.tools.GateLifecycle.drainSec(): Unit // reset any warm-up residue
    val lifecycles = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val timings: Seq[Seq[(String, Double)]] = (1 to iters).map { iter =>
      names.map { case (name, fn) =>
        val before = graft.tools.BenchDiag.snap()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(
              name, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // handle deliberately NOT unpersisted: a persisted result frame
        // (exactSubstrings) dedups across iterations through the
        // CacheManager exactly like every internally-caching query's
        // intermediate frames do (the "already cached" warnings) — one
        // cached copy per distinct plan, not per iteration. Unpersisting
        // it made d16/d17 cold-per-iteration while every OTHER query
        // stayed warm-median: an inconsistent measurement AND a 2×
        // cross-round bench break (9-iter A/B, r15)
        // scaffolding is a sub-interval of this execution by construction;
        // cap at the measured time so a misbehaving recorder can never
        // push plan_cost negative
        lifecycles(name) =
          math.min(graft.tools.GateLifecycle.drainSec(), sec) :: lifecycles(name)
        val after = graft.tools.BenchDiag.snap()
        diagRows += graft.tools.BenchDiag.json(iter, name, sec, before, after)
        if (diagStderr)
          graft.tools.BenchDiag.emit(iter, name, sec, before, after)
        name -> sec
      }
    }
    // At >= 4 iterations, iteration 1 is DISCARDED from the statistics as
    // warm-up: it is structurally cold (codegen compilation, parquet
    // footer caches, JIT past the session warm-up) — the r17 5-iter run
    // measured it at 553 s against 324–402 s for every later pass, and
    // keeping it inflates every query's spread so the unstable flag reads
    // as host noise. The driver's 3-iter runs are unchanged (dropping one
    // of three leaves too little for a median); iter_totals always shows
    // ALL iterations so the discarded pass stays visible, and total_min
    // is taken over all iterations (a minimum can only benefit from more
    // samples).
    val statsTimings = if (iters >= 4) timings.tail else timings
    val perQuery: Seq[(String, Seq[Double])] =
      names.map { case (name, _) => name -> statsTimings.map(_.toMap.apply(name)) }
    val perQueryAll: Seq[(String, Seq[Double])] =
      names.map { case (name, _) => name -> timings.map(_.toMap.apply(name)) }
    val medians = perQuery.map { case (n, xs) => n -> median(xs) }
    // DISPERSION, mechanically: rel. spread = (max − min) / median per
    // query. With 3 iterations a quartile-based IQR degenerates to the
    // range anyway, and the range is what the cross-round adjudications
    // actually read (r15: c6 14.5/3.6/0.85 s — spread 3.8×). A query is
    // flagged UNSTABLE when EITHER criterion fires:
    //   relative — spread > 1.0× its own median AND median above the 0.2 s
    //     noise floor (sub-100 ms queries jitter multiples of themselves);
    //   absolute — max − min > 2 s, regardless of median. The relative
    //     criterion alone missed the r16 movers that mattered: q61 ran
    //     13.5/12.0/4.7 s (spread 0.73, unflagged) and its "+7.2 s median"
    //     was pure host contention; likewise q62 24.9/16.6/12.5 and
    //     q65 29.3/18.2/14.2. A multi-second swing is a contention
    //     signature whatever the median says.
    // The contract line carries the flagged COUNT + names so a judge can
    // classify environmental movers without re-running a 9-iter A/B; the
    // full artifact carries every query's spread.
    val spreads = perQuery.map { case (n, xs) =>
      val med = median(xs)
      n -> (if (med <= 0) 0.0 else (xs.max - xs.min) / med)
    }
    val medianByName = medians.toMap
    val rangeByName = perQuery.map { case (n, xs) => n -> (xs.max - xs.min) }.toMap
    val unstable = spreads.collect {
      case (n, sp) if (sp > 1.0 && medianByName(n) > 0.2) || rangeByName(n) > 2.0 => n
    }
    // lifecycle medians follow the SAME warm-up discard as the query
    // stats: lifecycles(n) is built by PREPEND, so iteration 1's sample is
    // the LAST element — subtracting an all-iterations lifecycle median
    // from a warm-only query median would re-contaminate plan_cost with
    // exactly the cold-pass scaffolding the discard removes
    val lifecycleMedians = names.map { case (n, _) =>
      val all = lifecycles(n)
      val xs = if (iters >= 4 && all.size >= iters) all.dropRight(1) else all
      n -> (xs match { case Nil => 0.0; case l => median(l) }) }
    val lifecycleTotal = lifecycleMedians.map(_._2).sum
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val all = perQueryAll.map { case (k, xs) =>
      s"\"" + k + "\":" + xs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    // Whole-run contention signature: the per-ITERATION totals. A monotone
    // decay like r16's 587/432/272 s says "the host settled mid-run" at a
    // glance — no per-query forensics needed. Rides the CONTRACT line
    // (~15 bytes/iter) because it is the first thing a cross-round
    // comparison should look at. total_min = sum of per-query MINIMA — the
    // contention-robust secondary statistic (at n=3 the min is far less
    // corrupted by a noisy neighbor than the median; an engine regression
    // moves the min too, noise almost never does).
    val iterTotals = timings.map(_.map(_._2).sum)
    val totalMin = perQueryAll.map(_._2.min).sum
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < 0x20 => f"\\u${c.toInt}%04x" // all remaining control chars
        case c => c.toString
      } + "\""
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val spreadJson = spreads.map { case (k, v) =>
      s"\"" + k + "\":" + BigDecimal(v)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    val unstableJson = unstable.map(jstr).mkString("[", ",", "]")
    // Compact line: the driver's artifact keeps only the LAST ~2 KB of
    // output (BENCH_r07/r08 each lost the alphabetically-first 40 queries
    // of the full line, making them invisible cross-round), so a second,
    // self-contained line small enough to survive whole is printed LAST.
    // Centisecond medians (bench drift is ±5 s — 10 ms is noise floor),
    // basename sf, no per-iteration arrays. At 83 queries even that
    // overflowed (BENCH_r10 parsed:null, the line clipped mid-key), so the
    // compact line now uses each query's SHORT key — the unique prefix
    // before the first underscore ("q53_test_custom_expectations" → "q53",
    // "d1_exact_dedup" → "d1"). ~13 bytes/query: 83 queries ≈ 1.2 KB, with
    // headroom for ~40 more — exhausted at r16's 146 queries, hence the
    // adaptive median-threshold omission below. Full names stay in the
    // full JSON line above.
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    def r2(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // error NAMES only (short keys) — full messages (300 chars each) could
    // blow the very tail budget this line exists to fit; detail lives in the
    // full line and the non-zero exit
    val errCompact = if (errors.isEmpty) ""
      else errors.keys.map(k => jstr(shortKey(k))).mkString(""","errors":[""", ",", "]")
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val diagJson = diagRows.mkString("[", ",", "]")
    // plan_cost = total minus gate scaffolding (per-query medians of the
    // drained GateLifecycle seconds); the full line also carries the
    // per-query lifecycle map (nonzero entries only) for attribution
    val planCost = total - lifecycleTotal
    val lcJson = lifecycleMedians.filter(_._2 > 0.005)
      .map { case (k, v) => s"\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    val iterTotalsJson = iterTotals.map(r2).mkString("[", ",", "]")
    // the statistics regime must be SELF-DESCRIBING: at >= 4 iterations
    // `value`/medians silently become warm-only (cold pass discarded),
    // and a cross-round diff of `value` alone would conflate that
    // methodology change with an engine improvement — mark it in BOTH
    // lines whenever the discard is active (r17 ADVICE)
    val warmupJson = if (iters >= 4) ""","warmup_dropped":1""" else ""
    // The compact line must fit the driver's ~2 KB stdout tail WHOLE —
    // clipping eats its HEAD, which holds total/plan_cost/unstable
    // (BENCH_r16: 146 queries pushed the line to ~2 KB, an sbt epilogue
    // took 70 bytes, and the round's headline stats were lost to
    // parsed:null). The full per-query data is already durable in
    // bench_full.json (committed), so the compact map may legitimately
    // omit the cheap queries: pick the smallest median threshold whose
    // line fits 1850 bytes, and say how many were omitted.
    def compactAt(minMedian: Double): String = {
      val kept = medians.filter { case (_, v) => v >= minMedian }
      val omitted = medians.size - kept.size
      val qsC = kept.map { case (k, v) => s"\"" + shortKey(k) + "\":" + r2(v) }
        .mkString("{", ",", "}")
      val omC = if (omitted == 0) "" else s""","q_omitted":$omitted"""
      s"""{"metric":"total","value":${r2(total)},"unit":"sec"$warmupJson,"total_min":${r2(totalMin)},"iter_totals":$iterTotalsJson,"plan_cost":${r2(planCost)},"unstable":${unstable.size},"queries":$qsC$omC$errCompact,"sf":"$sfName"}"""
    }
    val compact = Seq(0.0, 0.2, 0.5, 1.0, 2.0, 5.0).map(compactAt)
      .find(_.length <= 1850)
      .getOrElse(compactAt(Double.MaxValue))
    Result(
      s"""{"metric":"total","value":$total,"unit":"sec"$warmupJson,"total_min":${r2(totalMin)},"iter_totals":$iterTotalsJson,"plan_cost":${r2(planCost)},"unstable":$unstableJson,"gate_lifecycle":$lcJson,"queries":$qs,"iters":$iters,"queries_all":$all,"spread":$spreadJson,"errors":$errJson,"diag":$diagJson,"sf":"$sfDir"}""",
      compact,
      errors.toMap)
  }

  /** Persist the full per-iteration JSON to a repo file. The driver's
    * artifact keeps only the last ~2 KB of stdout, and 11 rounds of
    * `parsed: null` (including rounds whose tail line provably parses)
    * showed the tail window cannot be the contract for the full data. The
    * file is the durable artifact; stdout carries EXACTLY ONE JSON line —
    * the compact medians map — so any first-brace tail parser sees a
    * single complete candidate instead of the clipped remainder of a huge
    * full-JSON line followed by the real one (r11 tail line 0 was exactly
    * that fragment). */
  def writeFull(path: java.nio.file.Path, json: String): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: initialize the session, JIT the parquet reader and codegen
    // paths once, so per-query timings measure the queries, not JVM startup.
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables.load(spark, sfDir, t).count()
    }
    val result = run(spark, sfDir, iters, SparkEntry.queries,
      sys.env.get("SPARK_GRAFT_FILTER"))
    // full per-iteration JSON → repo file (durable, committed); NOT stdout —
    // a clipped fragment of it in the tail window would precede and break a
    // naive first-brace parse of the compact line below
    // default resolves against the WORKING DIRECTORY (the checkout the
    // bench runs from), not a hardcoded absolute path — run from any clone
    // the artifact lands beside that clone's sources
    writeFull(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        s"${sys.props("user.dir")}/bench_full.json")),
      result.json)
    // The compact CONTRACT line additionally mirrors to a fixed-path file:
    // 11 rounds of driver artifacts carry `parsed: null` even when the
    // stdout tail provably holds the complete line — sbt's `[info] `
    // prefix defeats a first-brace/whole-line parse. The stdout line stays
    // the primary contract (byte-identical semantics, printed last, and
    // unprefixed under the documented `sbt -error` invocation); the file
    // is the parser-proof mirror a driver can always read.
    writeFull(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_COMPACT_OUT",
        s"${sys.props("user.dir")}/BENCH_COMPACT.json")),
      result.compact)
    // stop the StateStore maintenance task BEFORE SparkEnv goes away —
    // otherwise its next async tick logs "SparkEnv not active" AFTER the
    // contract line below and eats tail-window bytes (BENCH_r13 lost 68 of
    // 143 per-query times to exactly that warning). Reflection because the
    // object is private[sql] at the Scala level (same seam as BenchDiag).
    scala.util.Try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val module = cls.getField("MODULE$").get(null)
      cls.getMethod("stop").invoke(module)
    }
    spark.stop()
    // shut the logging backend DOWN before the contract line — a timed
    // drain (the old Thread.sleep(300)) still lost the race to a slow
    // async appender; LogManager.shutdown() flushes and stops every
    // appender synchronously, so nothing can interleave with or follow
    // the line. catch Throwable, not Try/NonFatal: a classpath WITHOUT
    // log4j raises NoClassDefFoundError (a LinkageError Try rethrows) on
    // the first LogManager reference, and dying here would eat the very
    // contract line this block protects.
    try org.apache.logging.log4j.LogManager.shutdown()
    catch { case _: Throwable => () }
    System.out.flush(); System.err.flush()
    println(result.compact)
    System.out.flush()
    if (result.errors.nonEmpty) {
      System.err.println(
        s"bench FAILED: ${result.errors.size} queries errored: ${result.errors.keys.mkString(", ")}")
      sys.exit(1)
    }
    // explicit exit: no non-daemon straggler (a state-store or netty pool
    // thread) gets a chance to log after the contract line
    sys.exit(0)
  }
}
