package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced with a noop-format write
  * (count() alone would let Catalyst prune the projections).
  *
  * Dev loop: `SPARK_GRAFT_ONLY=q1,q2` ([[QueryFilter]]) times just those
  * queries with the same warmup/pass/calib machinery;
  * `SPARK_GRAFT_PASSES` sets the pass count and `SPARK_GRAFT_NO_WARMUP=1`
  * skips the warmup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: run the WHOLE catalog once at the SMALLEST scale factor
    // before timing. Each query compiles its own Catalyst-generated
    // classes (Janino) and the JIT then compiles the hot loops — measured
    // at 5-100 s of one-time cost for the heavy graph/text plans, dwarfing
    // their steady-state execution. The warm dir is derived from sfDir
    // (sibling sf0.001) or SPARK_GRAFT_WARM_DIR; if neither exists the
    // warmup is SKIPPED rather than silently pre-running the catalog on
    // the timed data. Disable with SPARK_GRAFT_NO_WARMUP=1.
    val names = QueryFilter.names()
    var warmed = false
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      val warmDir = sys.env.get("SPARK_GRAFT_WARM_DIR")
        .filter(d => new java.io.File(d).isDirectory) // typo'd env → fall through, don't warm cold 87x
        .orElse(Option(sibling.getPath).filter(_ => sibling.isDirectory))
      warmDir match {
        case Some(wd) =>
          System.err.println(s"[bench] warmup dir: $wd")
          names.foreach { name =>
            try SparkEntry.queries(name)(spark, wd).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
            spark.sharedState.cacheManager.clearCache()
          }
          warmed = true
        case None =>
          System.err.println(s"[bench] no warmup dir (sibling sf0.001 of $sfDir absent and " +
            "SPARK_GRAFT_WARM_DIR unset) — timing cold, first-query times include JIT")
      }
    }

    // Timed passes, per-query MINIMUM, with the QUERY ORDER SHUFFLED per
    // pass (deterministic seed = pass index): the host VM stalls
    // episodically for 10-60 s with no local cause (observed: a w-family
    // query at 0.4 s in one run and 63 s twenty minutes later, identical
    // binary). Min-of-N rejects a stall only if the passes hit it with
    // DIFFERENT queries — two passes in the same contended hour in the
    // same order inflate the same entries twice (BENCH_r04). Shuffling
    // decorrelates query↔stall; ≥3 passes give each query three draws.
    // All per-pass times are emitted in the JSON so a contended run is
    // self-diagnosing (a query whose passes read 2.1/63.0/2.2 was stalled,
    // not slow). Default 4 passes: a round-7 session caught TWO of three
    // passes dirty (pass totals 149/261/75 s for identical work), so
    // three draws can leave a query with no clean sample; the fourth
    // costs ~1 min steady-state against the 3-4 min warmup.
    // SPARK_GRAFT_PASSES overrides.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "4").toInt

    val perPass = scala.collection.mutable.Map.empty[String, List[Double]]
    val calibSt = scala.collection.mutable.ListBuffer.empty[Double]
    val calibMt = scala.collection.mutable.ListBuffer.empty[Double]
    for (p <- 1 to passes) {
      // Fixed-work CPU calibration before each pass: the same binary has
      // measured 1.5-2x apart on different days (host VM placement /
      // steal), which reads as a spurious whole-catalog regression when
      // rounds are compared. calib_st is one thread of branch-free
      // xorshift (single-core speed); calib_mt runs the identical loop on
      // SPARK_GRAFT_CPUS threads and reports wall time (steal under full
      // load — the regime the queries run in). Comparing rounds: divide
      // query times by the calib ratio before calling anything a
      // regression.
      calibSt += Calib.singleThread()
      calibMt += Calib.multiThread(cpus.toInt)
      val order = new scala.util.Random(p).shuffle(names)
      for (name <- order) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        // queries persist intermediates internally (exploded shingles, edge
        // lists); dropping them between queries keeps each measurement
        // independent and bounds heap growth over the 70+ query run (an 8g
        // heap used to hit multi-second GC stalls near the end)
        spark.sharedState.cacheManager.clearCache()
        perPass(name) = perPass.getOrElse(name, Nil) :+ dt
      }
    }
    val results = names.map(n => n -> perPass(n).min)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // Detail-line entries ordered by ASCENDING per-query min so the most
    // expensive queries print LAST: the driver's artifact keeps only the
    // final ~2 KB of stdout, which preserves the end of this line — the
    // stall forensics for the top-of-bench queries (the ones a perf
    // comparison flags) now survive in the driver's own file instead of
    // being cut off (round-16 VERDICT residual #1). Full map still goes
    // to bench_passes.json.
    val raw = names.sortBy(n => perPass(n).min).map { n =>
      "\"" + n + "\":[" + perPass(n).map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Two-line emission (BENCH_r05 lesson): the driver tail-captures stdout
    // (last ~2000 chars) and parses the LAST line, so the per-pass arrays —
    // which tripled the line and truncated the head 28 queries in r5 — go
    // on their own PRECEDING line (and to bench_passes.json for post-hoc
    // diagnosis); the final line is the compact min-only format the driver
    // parses. The round-16 VERDICT asked for the FULL per-pass map in the
    // final line; measured against the r16 artifact that cannot fit — the
    // final line is already 1783 of the 2000 captured chars — so the final
    // line instead carries two SCALAR stall-attribution keys (additive,
    // ~30 chars): "mtst" = the calib contention ratio min(mt)/min(st)
    // (clean host ≈ 1.0; the contended r16 window read 1.17) and
    // "stallp" = the fraction of all per-pass samples that are stalls
    // ([[stalledSamples]]; episodic-stall density, a clean window reads
    // < ~0.05).
    // Together with the reordered detail line a contended driver window
    // self-classifies from the artifact alone.
    val calibJson = "{\"st\":[" + calibSt.map(v => f"$v%.3f").mkString(",") +
      "],\"mt\":[" + calibMt.map(v => f"$v%.3f").mkString(",") + "]}"
    val allSamples = names.flatMap(n => perPass(n))
    val nStalled = stalledSamples(names.map(perPass))
    val stallP = if (allSamples.nonEmpty) nStalled.toDouble / allSamples.size else 0.0
    val mtSt = if (calibSt.nonEmpty && calibSt.min > 0) calibMt.min / calibSt.min else 0.0
    val detail = f"""{"detail":"per-pass","passes":$passes,"warmup":$warmed,"calib":$calibJson,"times":$raw}"""
    println(detail)
    try {
      val out = new java.io.PrintWriter("bench_passes.json")
      try out.println(detail) finally out.close()
    } catch { case e: Throwable => System.err.println(s"[bench] pass file write failed: ${e.getMessage}") }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"warmup":$warmed,"calib":$calibJson,"mtst":$mtSt%.2f,"stallp":$stallP%.3f,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Per-pass samples counted as stalls: at least 1.5× their query's
    * minimum AND at least 0.25 s above it. The absolute floor keeps
    * sub-second jitter on fast queries (0.10 → 0.16 s is 1.6×) from
    * reading as a stall on a clean host.
    */
  def stalledSamples(perQuery: Seq[Seq[Double]]): Int =
    perQuery.map { ts =>
      val m = ts.min
      ts.count(t => t >= 1.5 * m && t - m >= 0.25)
    }.sum
}

/** Fixed-work CPU probes for cross-round normalization (see the calib
  * comment in [[Bench.main]]). Branch-free xorshift64 so the work is
  * constant regardless of data or JIT profile; the min over passes of
  * `st` is the machine's single-core speed that day.
  */
object Calib {
  private def loop(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  @volatile private var sink = 0L

  def singleThread(iters: Long = 300000000L): Double = {
    val t0 = System.nanoTime()
    sink ^= loop(iters)
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall time for `n` threads each doing the single-thread work — under
    * zero steal and free cores this ≈ the single-thread time; contention
    * shows up as the ratio mt/st. Each thread writes its own slot and
    * the xor-fold happens after the joins, so the DCE guard is
    * deterministic (a racy read-modify-write on the shared sink left the
    * accumulated value nondeterministic, which a JVM could in principle
    * optimize differently across runs).
    */
  def multiThread(n: Int, iters: Long = 300000000L): Double = {
    val slots = new Array[Long](n)
    val t0 = System.nanoTime()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => { slots(i) = loop(iters) })
      t.start(); t
    }
    threads.foreach(_.join())
    sink ^= slots.reduce(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }
}
