package graft

import org.apache.spark.sql.functions._
import graft.graph.{Centrality, GraphOps, LocalTier}

/** graphInfo's driver-local tier must equal its distributed tier
  * value-for-value (same contract as the CC local/distributed
  * equality) — random graphs across densities, incl. disconnected and
  * triangle-free shapes.
  */
class GraphInfoSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(seed: Int, n: Int, m: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
  }

  private def onDriver(edges: org.apache.spark.sql.DataFrame) =
    GraphOps.graphInfoOnDriver(LocalTier.collect(Centrality.symmetrize(edges)).get)

  test("local twin equals the distributed graphInfo on random graphs") {
    for ((seed, n, m) <- Seq((1, 12, 30), (2, 25, 40), (3, 8, 8), (4, 40, 20), (5, 60, 400))) {
      val edges = randomEdges(seed, n, m)
      val local = onDriver(edges).collect().head
      val dist = GraphOps.graphInfoDistributed(edges).collect().head
      assert(local.getLong(0) == dist.getLong(0), s"nodes seed=$seed")
      assert(local.getLong(1) == dist.getLong(1), s"edges seed=$seed")
      assert(math.abs(local.getDouble(2) - dist.getDouble(2)) < 1e-12, s"density seed=$seed")
      assert(math.abs(local.getDouble(3) - dist.getDouble(3)) < 1e-9, s"transitivity seed=$seed")
      assert(math.abs(local.getDouble(4) - dist.getDouble(4)) < 1e-9, s"avg_clustering seed=$seed")
      assert(local.getLong(5) == dist.getLong(5), s"components seed=$seed")
      assert(local.getLong(6) == dist.getLong(6), s"largest seed=$seed")
    }
  }

  test("triangle-free and fully-connected edge cases") {
    // star: no triangles, transitivity 0, one component
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val s = onDriver(star).collect().head
    assert(s.getLong(0) == 7 && s.getLong(1) == 6)
    assert(s.getDouble(3) == 0.0 && s.getLong(5) == 1 && s.getLong(6) == 7)
    // two disjoint triangles: clustering 1, transitivity 1, two components
    val tris = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    val t = onDriver(tris).collect().head
    assert(t.getLong(0) == 6 && t.getLong(1) == 6)
    assert(math.abs(t.getDouble(3) - 1.0) < 1e-12 && math.abs(t.getDouble(4) - 1.0) < 1e-12)
    assert(t.getLong(5) == 2 && t.getLong(6) == 3)
  }

  test("empty edge set matches the distributed zero-row-aggregate summary") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val l = onDriver(empty).collect().head
    val d = GraphOps.graphInfoDistributed(empty).collect().head
    for (i <- 0 until 7) {
      assert(l.isNullAt(i) == d.isNullAt(i), s"field $i nullity: $l vs $d")
      if (!l.isNullAt(i)) assert(l.get(i) == d.get(i), s"field $i: $l vs $d")
    }
  }

  test("hub graph: degree-ordered triangle counting matches the distributed form") {
    // a 200-spoke star with a chord ring among the spokes — the shape
    // whose naive all-neighbor-pairs loop is O(d_hub²)
    val spokes = (1L to 200L).map(i => (0L, i))
    val ring = (1L until 200L).map(i => (i, i + 1)) :+ (200L, 1L)
    val edges = (spokes ++ ring).toDF("src", "dst")
    val local = onDriver(edges).collect().head
    val dist = GraphOps.graphInfoDistributed(edges).collect().head
    for (i <- Seq(0, 1, 5, 6)) assert(local.getLong(i) == dist.getLong(i), s"field $i")
    for (i <- Seq(2, 3, 4)) assert(math.abs(local.getDouble(i) - dist.getDouble(i)) < 1e-9, s"field $i")
    // each ring edge closes exactly one triangle through the hub
    assert(math.abs(local.getDouble(3) - dist.getDouble(3)) < 1e-9)
  }

  test("guard refuses above maxEdges and the distributed path remains") {
    // a path of n edges symmetrizes to 2n rows: the cap is 200k rows
    def path(n: Long) = Centrality.symmetrize(
      spark.range(0, n).select(col("id").as("src"), (col("id") + 1).as("dst")))
    assert(LocalTier.collect(path(100001L)).isEmpty)
    assert(LocalTier.collect(path(100000L)).exists(_.edges.length == 200000))
    val edges = randomEdges(9, 50, 60)
    val und = Centrality.symmetrize(edges)
    val g = LocalTier.collect(und).get
    assert(g.edges.length == und.count() && g.idType == und.schema("src").dataType)
    // non-integral ids are refused from the schema alone: no job runs
    val strs = Centrality.symmetrize(edges.select(
      col("src").cast("string").as("src"), col("dst").cast("string").as("dst")))
    val sc = spark.sparkContext
    sc.setJobGroup("graph-guard-strings", "string-id guard")
    try assert(LocalTier.collect(strs).isEmpty) finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("graph-guard-strings").isEmpty)
    assert(GraphOps.graphInfoDistributed(edges).count() == 1)
  }
}
