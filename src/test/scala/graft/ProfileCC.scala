package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Tables

/** Dev harness: connectedComponents round-body A/B (round-17, the
  * round-16 VERDICT #1 co-partitioning item). Variants on the same
  * >200k-edge customer⋈supplier graph (so the DISTRIBUTED tier is the
  * one measured), interleaved in one JVM:
  *   A: round-16 shape — symmetrized edges persisted but unpartitioned,
  *      every round re-shuffles the |E| side (each round is its own job,
  *      so exchange reuse never spans rounds)
  *   B: round-17 shape — GraphOps.connectedComponentsDistributed (edges
  *      pre-partitioned by dst through Ckpt.partitioned, SHUFFLE_HASH
  *      label builds, |V|-row joins sort-free)
  */
object ProfileCC {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROFILE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("profilecc")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    // "nobcast" arg: disable broadcast joins entirely — simulates the
    // labels-past-broadcast regime (the shuffle tier's target) on the
    // same graph, so old-vs-new measures the per-round |E| SMJ
    // re-shuffle against the co-partitioned SHUFFLE_HASH round body.
    if (args.contains("nobcast")) {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      println("broadcast joins DISABLED (shuffle-tier A/B)")
    }
    val shW = new java.util.concurrent.atomic.AtomicLong
    val shR = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          shW.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
          shR.addAndGet(te.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
    })

    // "tree N": N-node binary-tree edges (i, i/2) — |V| = N, so N past
    // ~1.4M puts the per-round label frame GENUINELY over the 64 MB
    // broadcast threshold (the shuffle tier's real regime, no simulated
    // -1 needed); diameter ~2·log2(N) exercises many rounds.
    val treeN = args.dropWhile(_ != "tree").drop(1).headOption.map(_.toLong)
    def edges(): DataFrame = treeN match {
      case Some(n) =>
        s.range(1, n).select(col("id").as("src"), (col("id") / 2).cast("long").as("dst"))
      case None => Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        // suppliers offset out of the customer key space so the bipartite
        // sides don't collide into trivial components
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 10000000L).as("dst"))
    }

    // round-16 shape, inlined
    def runOld(): Long = {
      val und = graft.graph.Centrality.symmetrize(edges())
        .persist(StorageLevel.MEMORY_AND_DISK)
      var labels = und.select(col("src").as("node")).distinct()
        .withColumn("component", col("node")).localCheckpoint()
      var changed = true
      var it = 0
      while (changed && it < 50) {
        it += 1
        val nbrMin = und.join(labels, und("dst") === labels("node"))
          .groupBy(und("src").as("node")).agg(min("component").as("__nc"))
        val next = labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("component"), coalesce(col("__nc"), col("component"))).as("component"))
          .localCheckpoint()
        changed = !next.as("a").join(labels.as("b"), "node")
          .where(col("a.component") =!= col("b.component")).isEmpty
        labels = next
      }
      println(s"  rounds=$it")
      val n = labels.agg(count(lit(1)), count_distinct(col("component"))).head()
      println(s"  nodes=${n.getLong(0)} components=${n.getLong(1)}")
      und.unpersist(blocking = false)
      n.getLong(0)
    }

    def runNew(): Long = {
      // the distributed body directly: the public operator's tier guard
      // would add a count job (and send graphs under its cap local)
      val labels = graft.graph.GraphOps.connectedComponentsDistributed(edges())
      val n = labels.agg(count(lit(1)), count_distinct(col("component"))).head()
      println(s"  nodes=${n.getLong(0)} components=${n.getLong(1)}")
      n.getLong(0)
    }

    val m = graft.graph.Centrality.symmetrize(edges()).count()
    println(s"symmetrized edges: $m")
    // interleave, warm JVM first (tree mode: long runs amortize JIT —
    // skip the dedicated warmup pair)
    if (treeN.isEmpty) { time("warmup old")(runOld()); time("warmup new")(runNew()) }
    for (i <- 1 to 2) {
      shW.set(0); shR.set(0)
      time(s"old rep$i")(runOld())
      println(f"  old shuffle write=${shW.get / 1e6}%.1f MB read=${shR.get / 1e6}%.1f MB")
      shW.set(0); shR.set(0)
      time(s"new rep$i")(runNew())
      println(f"  new shuffle write=${shW.get / 1e6}%.1f MB read=${shR.get / 1e6}%.1f MB")
      s.sharedState.cacheManager.clearCache()
    }
    s.stop()
  }
}
