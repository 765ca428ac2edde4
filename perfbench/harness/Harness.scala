package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.storage.RDDBlockId
import com.sun.management.HotSpotDiagnosticMXBean

/** Closed-loop timing of catalog queries through `graft.SparkEntry.queries`.
  *
  * Each timed execution is split from outside the program into the frame
  * build (the `(spark, dir) => DataFrame` call) and the action that
  * collects the answer. With tracing on, a `SparkListener` attributes
  * every job, stage and task to its execution and phase through job
  * properties; Catalyst's planning phases come from the timed action's
  * own `QueryPlanningTracker`.
  *
  * Usage: Harness <dataDir> <q1,q2,...|all> <seed> <passes> <trace 0|1> <outDir>
  *
  * Writes to outDir: `run.json` (the run's figures), `layers.jsonl` (one
  * row per query and pass, traced run only) and `answers/<query>/` (the
  * first successful answer of each query, for the oracle check, written
  * when it arrives and outside the timed interval).
  */
object Harness {
  private val ExecKey = "perfbench.exec"
  private val PhaseKey = "perfbench.phase"
  private var execCount = 0

  /** One timed execution of one query. */
  final case class Exec(id: Int, query: String, pass: Int, wallS: Double, buildS: Double,
                        analysisS: Double, optimizationS: Double, planningS: Double,
                        rddsLeft: Int, sameAsChecked: Option[Boolean], error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(dataDir, queryList, seedArg, passesArg, traceArg, outDir) = args
    val catalog = graft.SparkEntry.queries
    val names = if (queryList == "all") catalog.keys.toSeq.sorted else queryList.split(",").toSeq
    val seed = seedArg.toLong
    val passes = passesArg.toInt
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val mainNs = System.nanoTime()
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    def sinceJvm(): Double = jvmStartS + (System.nanoTime() - mainNs) / 1e9

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceJvm()

    val missing = names.filterNot(catalog.contains)
    require(missing.isEmpty, s"not in the catalog: ${missing.mkString(",")}")
    val oracleSql = new Json
    oracleSql.obj { names.foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(oracleSql.str(q, _))) }
    writeFile(new File(outDir, "oracle_sql.json"), oracleSql.toString)

    // Warm-up: every query of the workload twice, on the workload's own
    // input, so Janino and the JIT compile the plans this input selects.
    // After one round the first timed pass still ran 20-30% slower than
    // the third on 4 cores. The first round also reads the post-GC heap
    // after each query, so that a whole round separates the collections
    // it forces from the timed passes; a separate heap pass would cost a
    // run one more pass.
    var heapPeakMb = 0.0
    for (round <- 1 to 2; q <- names.sorted) {
      try catalog(q)(spark, dataDir).collect()
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $q failed: $e") }
      if (round == 1) heapPeakMb = math.max(heapPeakMb, postGcHeapMb())
      spark.sharedState.cacheManager.clearCache()
    }
    val setupS = sinceJvm()

    val calib = Calib.measure(cores)
    val check = new Checked(new File(outDir, "answers"))
    val untraced = window(spark, catalog, dataDir, names, seed, passes, check)
    // A traced run brackets its traced window with a second untraced one,
    // so the tracing overhead is not confounded with the JIT still warming.
    val traced = if (trace) {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val w = window(spark, catalog, dataDir, names, seed, passes, check)
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      Some((w, listener, window(spark, catalog, dataDir, names, seed, passes, check)))
    } else None

    val out = new Json
    out.obj {
      out.num("setup_s", setupS)
      out.num("setup.session_s", sessionS)
      out.num("setup.warmup_s", setupS - sessionS)
      out.num("cores", cores)
      out.num("heap_peak_mb", heapPeakMb)
      out.key("calibration"); calib.write(out)
      out.key("untraced"); untraced.write(out)
      traced.foreach { case (w, l, after) =>
        out.key("traced"); w.write(out)
        out.key("untraced_after"); after.write(out)
        out.key("layers"); l.writeTotals(out, w)
      }
    }
    writeFile(new File(outDir, "run.json"), out.toString)
    traced.foreach { case (w, l, _) => writeFile(new File(outDir, "layers.jsonl"), l.rows(w)) }
    spark.stop()
    System.exit(0)
  }

  private def writeFile(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f)
    try w.print(s) finally w.close()
  }

  /** The answers checked against the oracle: the first successful answer
    * of each query is written as parquet for the DuckDB check and only its
    * digest is kept; every later answer is compared with that digest.
    */
  final class Checked(answerDir: File) {
    private val digests = mutable.Map.empty[String, (Long, Long)]

    def same(spark: SparkSession, q: String, df: DataFrame, rows: Array[Row]): Boolean = {
      val d = Digest.of(rows)
      if (!digests.contains(q)) {
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(answerDir, q).getPath)
        digests(q) = d
      }
      digests(q) == d
    }
  }

  /** The figures of one measured window. */
  final class Window(val execs: Seq[Exec], val passWalls: Seq[Double]) {
    def write(out: Json): Unit = out.obj {
      out.num("passes", passWalls.size)
      out.arr("pass_s", passWalls)
      out.key("execs")
      out.arrOf(execs) { e =>
        out.obj {
          out.str("q", e.query); out.num("pass", e.pass)
          out.num("wall_s", e.wallS)
          e.error.foreach(out.str("error", _))
          e.sameAsChecked.foreach(out.bool("same_as_checked", _))
        }
      }
    }
  }

  /** Runs `passes` closed-loop passes of one client over the workload's
    * queries, each pass in the order drawn from (seed, pass). The cache is
    * cleared after each query, as the repo's own bench does.
    */
  def window(spark: SparkSession, catalog: Map[String, (SparkSession, String) => DataFrame],
             dataDir: String, names: Seq[String], seed: Long, passes: Int, check: Checked): Window = {
    val execs = mutable.ArrayBuffer.empty[Exec]
    val walls = mutable.ArrayBuffer.empty[Double]
    val sc = spark.sparkContext
    for (pass <- 1 to passes) {
      var checkNs = 0L
      val p0 = System.nanoTime()
      for (q <- new scala.util.Random(seed * 1000003L + pass).shuffle(names)) {
        execCount += 1
        sc.setLocalProperty(ExecKey, execCount.toString)
        val (e, ns) = timeOne(spark, catalog(q), execCount, q, dataDir, pass, check)
        sc.setLocalProperty(ExecKey, null)
        val c0 = System.nanoTime()
        spark.sharedState.cacheManager.clearCache()
        execs += e
        checkNs += ns + System.nanoTime() - c0
      }
      // the harness's own checks and cache clearing are not part of the pass
      walls += (System.nanoTime() - p0 - checkNs) / 1e9
    }
    new Window(execs.toSeq, walls.toSeq)
  }

  /** One timed execution, then its answer's check; returns the execution
    * and the nanoseconds the check took. The answer is released on return.
    */
  private def timeOne(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                      id: Int, q: String, dataDir: String, pass: Int, check: Checked): (Exec, Long) = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var buildS = 0.0
    try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = fn(spark, dataDir)
      buildS = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(PhaseKey, "exec")
      val rows = df.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val ph = df.queryExecution.tracker.phases
      def phase(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val left = sc.getPersistentRDDs.size
      sc.setLocalProperty(PhaseKey, null)
      val c0 = System.nanoTime()
      val same = check.same(spark, q, df, rows)
      (Exec(id, q, pass, wall, buildS, phase("analysis"), phase("optimization"), phase("planning"),
        left, Some(same), None), System.nanoTime() - c0)
    } catch {
      case e: Exception =>
        val wall = (System.nanoTime() - t0) / 1e9
        (Exec(id, q, pass, wall, buildS, 0, 0, 0, sc.getPersistentRDDs.size, None,
          Some(e.toString.take(300))), 0L)
    } finally sc.setLocalProperty(PhaseKey, null)
  }

  /** Post-GC heap occupancy: the sum over the heap's memory pools of the
    * usage a full collection leaves, as their collection usage reports it.
    * Read after each query, once its answer is released and before the
    * harness clears the cache, so it holds the program's retained state and
    * the persists a query leaves registered. About 65 MB that Spark frees
    * asynchronously after a query often survive the first and even the
    * second collection, so this keeps the smallest of three readings,
    * 50 ms apart.
    */
  def postGcHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val vm = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    val maxFree = vm.getVMOption("MaxHeapFreeRatio").getValue
    // A full collection shrinks the heap down to this free-ratio limit, and
    // queries run after such shrinking were 30-40% slower on 4 cores.
    // Lifting the limit while reading keeps the heap the program grew.
    vm.setVMOption("MaxHeapFreeRatio", "100")
    try (1 to 3).map { i =>
      if (i > 1) Thread.sleep(50)
      System.gc()
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }.min
    finally vm.setVMOption("MaxHeapFreeRatio", maxFree)
  }

  /** Layer counters of one timed execution, fed by the listener bus. */
  final class Layer {
    var eagerJobs = 0; var eagerJobS = 0.0
    var jobs = 0; var stages = 0; var tasks = 0
    var taskCpuS = 0.0; var taskRunS = 0.0; var gcS = 0.0; var schedDelayS = 0.0
    var shuffleWriteMb = 0.0; var shuffleReadMb = 0.0; var spillMb = 0.0; var inputMb = 0.0
    var aqeUpdates = 0
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Wall time covered by at least one executed stage (union of spans). */
    def stageWallS: Double = {
      var covered = 0L; var end = Long.MinValue
      for ((s, e) <- stageSpans.sortBy(_._1)) {
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      covered / 1e3
    }
  }

  final class LayerListener extends SparkListener {
    private case class Tag(exec: Int, phase: String)
    private val jobTag = mutable.Map.empty[Int, Tag]
    private val stageTag = mutable.Map.empty[Int, Tag]
    private val jobStart = mutable.Map.empty[Int, Long]
    private val execTag = mutable.Map.empty[Long, Int]
    private val pendingAqe = mutable.Map.empty[Long, Int]
    private var open = 0
    private val blocks = mutable.Map.empty[String, Long]
    private var cached = 0L
    private var cachedPeak = 0L
    private val layers = mutable.Map.empty[Int, Layer]

    private def layer(exec: Int) = layers.getOrElseUpdate(exec, new Layer)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      open += 1
      val p = Option(e.properties)
      for (props <- p; x <- Option(props.getProperty(ExecKey)); ph <- Option(props.getProperty(PhaseKey))) {
        val t = Tag(x.toInt, ph)
        jobTag(e.jobId) = t
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageTag(_) = t)
        Option(props.getProperty("spark.sql.execution.id")).map(_.toLong).foreach { id =>
          execTag(id) = t.exec
          pendingAqe.remove(id).foreach(n => layer(t.exec).aqeUpdates += n)
        }
        val l = layer(t.exec)
        if (t.phase == "build") l.eagerJobs += 1 else l.jobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open -= 1
      for (t <- jobTag.remove(e.jobId); s <- jobStart.remove(e.jobId); if t.phase == "build")
        layer(t.exec).eagerJobS += (e.time - s) / 1e3
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      for (t <- stageTag.get(info.stageId); if t.phase == "exec") {
        val l = layer(t.exec)
        l.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime) l.stageSpans += ((s, c))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (t <- stageTag.get(e.stageId); if t.phase == "exec"; m <- Option(e.taskMetrics)) {
        val l = layer(t.exec)
        val i = e.taskInfo
        l.tasks += 1
        l.taskCpuS += m.executorCpuTime / 1e9
        l.taskRunS += m.executorRunTime / 1e3
        l.gcS += m.jvmGCTime / 1e3
        l.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        l.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        l.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        l.inputMb += m.inputMetrics.bytesRead / 1048576.0
        val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        l.schedDelayS += math.max(0L, i.duration - overhead - i.gettingResultTime) / 1e3
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId]) {
        val id = b.blockId.name
        cached -= blocks.getOrElse(id, 0L)
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        if (size > 0) blocks(id) = size else blocks.remove(id)
        cached += size
        cachedPeak = math.max(cachedPeak, cached)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
        execTag.get(u.executionId) match {
          case Some(x) => layer(x).aqeUpdates += 1
          case None => pendingAqe(u.executionId) = pendingAqe.getOrElse(u.executionId, 0) + 1
        }
      }
      case _ =>
    }

    /** Waits until the listener bus has delivered every job's end. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (synchronized(open) > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    }

    def cachePeakMb: Double = synchronized(cachedPeak / 1048576.0)

    private def get(e: Exec): Layer = synchronized(layers.getOrElse(e.id, new Layer))

    private def unattributed(e: Exec, l: Layer): Double =
      e.wallS - e.buildS - e.optimizationS - e.planningS - l.stageWallS

    def rows(w: Window): String = w.execs.sortBy(e => (e.pass, e.query)).map { e =>
      val l = get(e)
      val j = new Json
      j.obj {
        j.str("query", e.query); j.num("pass", e.pass)
        j.num("wall_s", e.wallS); j.num("build_s", e.buildS)
        j.num("eager_jobs", l.eagerJobs); j.num("eager_job_s", l.eagerJobS)
        j.num("analysis_s", e.analysisS); j.num("optimization_s", e.optimizationS)
        j.num("planning_s", e.planningS); j.num("aqe_updates", l.aqeUpdates)
        j.num("jobs", l.jobs); j.num("stages", l.stages); j.num("tasks", l.tasks)
        j.num("stage_wall_s", l.stageWallS); j.num("task_cpu_s", l.taskCpuS)
        j.num("task_run_s", l.taskRunS); j.num("gc_s", l.gcS); j.num("sched_delay_s", l.schedDelayS)
        j.num("shuffle_write_mb", l.shuffleWriteMb); j.num("shuffle_read_mb", l.shuffleReadMb)
        j.num("spill_mb", l.spillMb); j.num("input_mb", l.inputMb)
        j.num("rdds_left", e.rddsLeft); j.num("unattributed_s", unattributed(e, l))
        e.error.foreach(j.str("error", _))
      }
      j.toString + "\n"
    }.mkString

    /** Per-pass means of every layer counter over the traced window. */
    def writeTotals(out: Json, w: Window): Unit = {
      val n = w.passWalls.size.toDouble
      val ls = w.execs.map(e => e -> get(e))
      def per(f: ((Exec, Layer)) => Double) = ls.map(f).sum / n
      val cpu = ls.map(_._2.taskCpuS).sum
      val stageWall = ls.map(_._2.stageWallS).sum
      out.obj {
        out.num("queries.build_s", per(_._1.buildS))
        out.num("queries.eager_jobs", per(_._2.eagerJobs))
        out.num("queries.eager_job_s", per(_._2.eagerJobS))
        out.num("plan.analysis_s", per(_._1.analysisS))
        out.num("plan.optimization_s", per(_._1.optimizationS))
        out.num("plan.planning_s", per(_._1.planningS))
        out.num("plan.aqe_updates", per(_._2.aqeUpdates))
        out.num("exec.task_cpu_s", per(_._2.taskCpuS))
        out.num("exec.task_run_s", per(_._2.taskRunS))
        out.num("exec.gc_s", per(_._2.gcS))
        out.num("exec.shuffle_write_mb", per(_._2.shuffleWriteMb))
        out.num("exec.shuffle_read_mb", per(_._2.shuffleReadMb))
        out.num("exec.spill_mb", per(_._2.spillMb))
        out.num("exec.input_mb", per(_._2.inputMb))
        out.num("exec.jobs", per(_._2.jobs))
        out.num("exec.stages", per(_._2.stages))
        out.num("exec.tasks", per(_._2.tasks))
        out.num("exec.sched_delay_s", per(_._2.schedDelayS))
        out.num("exec.stage_wall_s", stageWall / n)
        val cores = Runtime.getRuntime.availableProcessors()
        out.num("exec.cpu_util", if (stageWall > 0) cpu / (stageWall * cores) else 0.0)
        out.num("cache.rdds_left", per(_._1.rddsLeft))
        out.num("cache.peak_mb", cachePeakMb)
        out.num("query.unattributed_s", per { case (e, l) => unattributed(e, l) })
      }
    }
  }
}

/** Order-insensitive digest of an answer within one JVM: row count and a
  * sum of 64-bit row hashes, so equal multisets of rows digest equally.
  */
object Digest {
  def of(rows: Array[Row]): (Long, Long) = {
    var h = 0L
    for (r <- rows) {
      val s = r.toString
      h += (scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }
    (rows.length.toLong, h)
  }
}

/** Host context: fixed-work xorshift loops timed on one thread and on one
  * thread per core. On an idle host the two read alike; their ratio shows
  * contention during the run. Taken once, before the measured window.
  */
final case class Calib(singleS: Double, allCoresS: Double, threads: Int) {
  def write(out: Json): Unit = out.obj {
    out.num("threads", threads)
    out.num("single_s", singleS)
    out.num("all_cores_s", allCoresS)
    out.num("ratio", allCoresS / singleS)
  }
}

object Calib {
  private val Iters = 100000000L
  @volatile private var sink = 0L

  private def loop(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def timed(threads: Int): Double = {
    val slots = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i => val t = new Thread(() => slots(i) = loop(Iters)); t.start(); t }
    ts.foreach(_.join())
    sink ^= slots.reduce(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }

  def measure(threads: Int): Calib = {
    timed(1) // JIT the loop before either reading
    Calib(timed(1), timed(threads), threads)
  }
}

/** Minimal streaming JSON writer for the harness's output files. */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb += ','; first = false }
  def key(k: String): Unit = { sep(); sb ++= quote(k) += ':'; first = true }
  def obj(body: => Unit): Unit = { if (!first) sb += ','; sb += '{'; first = true; body; sb += '}'; first = false }
  def num(k: String, v: Double): Unit = { key(k); sb ++= fmt(v); first = false }
  def str(k: String, v: String): Unit = { key(k); sb ++= quote(v); first = false }
  def bool(k: String, v: Boolean): Unit = { key(k); sb ++= v.toString; first = false }
  def arr(k: String, vs: Seq[Double]): Unit = { key(k); sb ++= vs.map(fmt).mkString("[", ",", "]"); first = false }
  def arrOf[A](xs: Seq[A])(f: A => Unit): Unit = {
    sb += '['; first = true
    xs.foreach(f)
    sb += ']'; first = false
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  override def toString: String = sb.toString
}
