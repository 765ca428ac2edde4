package graft

import org.apache.spark.sql.DataFrame
import graft.graph.{Centrality, DriverGraph, GraphOps, LocalTier}

/** The graph operators route each call to their driver-local or their
  * distributed tier through one guard (LocalTier.collect), which is only
  * safe if the two tiers agree. Every tier pair — connected components,
  * graphInfo, closeness, eccentricity, betweenness — runs on the same
  * graphs and must return equal values under identical column names and
  * types (int ids stay int, long ids long), including on a path longer
  * than the BFS depth limit.
  */
class GraphTierSpec extends SparkSpec {
  import spark.implicits._

  private def driver(edges: DataFrame): DriverGraph =
    LocalTier.collect(Centrality.symmetrize(edges))
      .getOrElse(fail("graph unexpectedly past the local-tier guard"))

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    case _ => a == b
  }

  private def assertSame(what: String, local: DataFrame, dist: DataFrame): Unit = {
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(types(local) == types(dist), s"$what schema")
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
      .sortBy(_.head match { case n: Number => n.longValue; case _ => 0L })
    val (l, d) = (rows(local), rows(dist))
    assert(l.length == d.length, s"$what row count")
    l.zip(d).foreach { case (lr, dr) =>
      assert(lr.zip(dr).forall { case (a, b) => sameValue(a, b) }, s"$what: $lr vs $dr")
    }
  }

  private def assertTiersAgree(name: String, edges: DataFrame, maxDepth: Int = 30): Unit = {
    val g = driver(edges)
    assertSame(s"$name components", GraphOps.componentsOnDriver(g),
      GraphOps.connectedComponentsDistributed(edges))
    assertSame(s"$name graphInfo", GraphOps.graphInfoOnDriver(g),
      GraphOps.graphInfoDistributed(edges))
    assertSame(s"$name closeness", Centrality.closenessOnDriver(g, maxDepth),
      Centrality.closenessDistributed(edges, maxDepth))
    assertSame(s"$name eccentricity", Centrality.eccentricityOnDriver(g, maxDepth),
      Centrality.eccentricityDistributed(edges, maxDepth))
    assertSame(s"$name betweenness", Centrality.betweennessOnDriver(g, maxDepth = maxDepth),
      Centrality.betweennessDistributed(edges, maxDepth = maxDepth))
  }

  private def randomEdges(seed: Int, n: Int, m: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
  }

  test("tiers agree on the hand-built networkx fixture (int ids)") {
    // two cliques joined by a bridge, a pendant, and a detached pair
    val e = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (4, 5), (4, 6),
      (4, 7), (5, 6), (5, 7), (6, 7), (3, 4), (7, 8), (10, 11)).toDF("src", "dst")
    assertTiersAgree("fixture", e)
    assert(Centrality.closeness(e).schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("tiers agree on random graphs (int and long ids, disconnected)") {
    val rnd = new scala.util.Random(3)
    val blob = (0 until 120).map(_ => (rnd.nextInt(20), rnd.nextInt(20)))
      .filter(e => e._1 != e._2)
    assertTiersAgree("blob+triangle",
      (blob ++ Seq((100, 101), (101, 102), (102, 100))).toDF("src", "dst"))
    for ((seed, n, m) <- Seq((1, 12, 30), (4, 40, 20), (5, 60, 400)))
      assertTiersAgree(s"random seed=$seed", randomEdges(seed, n, m))
  }

  test("tiers agree on a hub graph") {
    val spokes = (1L to 60L).map(i => (0L, i))
    val ring = (1L until 60L).map(i => (i, i + 1)) :+ (60L, 1L)
    assertTiersAgree("hub", (spokes ++ ring).toDF("src", "dst"))
  }

  test("tiers agree on a path longer than maxDepth") {
    val path = (0 until 11).map(i => (i, i + 1)).toDF("src", "dst")
    assertTiersAgree("path", path, maxDepth = 4)
    // the cut is real: the end node reaches only 4 hops
    val ecc = Centrality.eccentricity(path, maxDepth = 4).as[(Int, Int)].collect().toMap
    assert(ecc(0) == 4 && ecc(6) == 4, s"$ecc")
  }

  test("distributed components fail instead of returning unconverged labels") {
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException](
      GraphOps.connectedComponentsDistributed(path, maxIters = 3))
    assert(e.getMessage.contains("maxIters = 3"), e.getMessage)
    // enough rounds: one component labeled 0
    val ok = GraphOps.connectedComponentsDistributed(path, maxIters = 20)
      .as[(Long, Long)].collect()
    assert(ok.length == 12 && ok.forall(_._2 == 0L))
  }
}
