package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.FullOuter
import graft.graph.Centrality

/** Plan-shape gates for hitsCounts (round-5 verdict #3, reworked round
  * 7 into two data-adaptive paths), asserted on a walk of the physical
  * plan tree:
  *
  *  - SHUFFLE path (large |V|): the eager per-round checkpoints hide the
  *    loop's joins from the final audited plan, so
  *    `Centrality.hitsRoundForAudit` rebuilds one un-checkpointed
  *    hub+auth round over the same materialized edge pair; this spec
  *    pins its shape — both joins SHUFFLE_HASH (an SMJ would re-sort
  *    the |E| side every round), the pre-partitioned |E| legs join
  *    WITHOUT a fresh Exchange (the point of Ckpt.partitioned; a plain
  *    AQE localCheckpoint re-shuffled the edge frame every round), and
  *    only the |V|-row aggregation exchanges remain.
  *  - BROADCAST path (small |V|): the rounds stay LAZY, so the full plan
  *    itself must show broadcast joins and NO per-round shuffle of the
  *    edge frame.
  */
class HitsRoundShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def joins(p: SparkPlan) = collect(p) {
    case j: ShuffledHashJoinExec => j
    case j: SortMergeJoinExec => j
    case j: BroadcastHashJoinExec => j
    case j: BroadcastNestedLoopJoinExec => j
    case j: CartesianProductExec => j
  }

  test("shuffle-path round body: 2 shuffle-hash joins, no SMJ, no |E| re-shuffle") {
    val edges = spark.range(0, 5000)
      .select((col("id") % 123).as("src"), (col("id") % 77).as("dst"))
    val p = Centrality.hitsRoundForAudit(edges).queryExecution.executedPlan

    val js = joins(p)
    assert(js.length == 2 && js.forall(_.isInstanceOf[ShuffledHashJoinExec]), p.treeString)

    // the checkpointed edge frames are RDDScanExecs; if their
    // HashPartitioning were lost, EnsureRequirements would insert an
    // Exchange over one (through at most a row-wise Project/Filter). The
    // |V|-row exchanges sit over a partial aggregate instead.
    def rowWise(plan: SparkPlan): SparkPlan = plan match {
      case ProjectExec(_, c) => rowWise(c)
      case FilterExec(_, c) => rowWise(c)
      case other => other
    }
    val exchanges = collect(p) { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty && exchanges.length <= 3, p.treeString)
    exchanges.foreach { e =>
      assert(!rowWise(e.child).isInstanceOf[RDDScanExec], s"edge frame re-shuffled:\n${p.treeString}")
    }
  }

  test("broadcast-path full plan: broadcast rounds + one |V|-row full-outer assembly") {
    val edges = spark.range(0, 5000)
      .select((col("id") % 123).as("src"), (col("id") % 77).as("dst"))
    val p = tier("broadcast", edges, 3).queryExecution.executedPlan
    // 4 BHJ from the lazy rounds (h2,a2,h3,a3 — a1 folds into h1's agg
    // via the round-1 outdegree shortcut). The only non-broadcast join
    // allowed is the final hub⟗auth assembly — it joins two |V|-row
    // aggregates (full outer can't broadcast-hash), and it REPLACES the
    // former nodes = src∪dst distinct, so the edge list is never
    // re-aggregated for the output.
    val js = joins(p)
    assert(js.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 4, p.treeString)
    val shuffled = js.filter(j => j.isInstanceOf[SortMergeJoinExec] || j.isInstanceOf[ShuffledHashJoinExec])
    assert(shuffled.length == 1, p.treeString)
    assert(shuffled.head match {
      case j: ShuffledHashJoinExec => j.joinType == FullOuter
      case j: SortMergeJoinExec => j.joinType == FullOuter
      case _ => false
    }, p.treeString)
    assert(!js.exists(j => j.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      j.isInstanceOf[CartesianProductExec]), p.treeString)
  }

  /** One [[Centrality.hitsCounts]] tier, forced, over the same deduped
    * edge list the public operator builds.
    */
  private def tier(name: String, edges: DataFrame, iters: Int): DataFrame = {
    val raw = Centrality.hitsEdgeList(edges, "src", "dst")
    name match {
      case "local" => Centrality.hitsCountsOnDriver(raw, iters)
      case "broadcast" => Centrality.hitsCountsBroadcast(raw, iters)
      case "shuffle" => Centrality.hitsCountsShuffle(raw, iters)
    }
  }
  private val tiers = Seq("local", "broadcast", "shuffle")

  private def triples(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("hitsCounts values: all three tiers agree with the hand recurrence") {
    // tiny directed graph with a node that has only out-edges (1), only
    // in-edges (4), and both (2,3) — exercises the sparse-zero semantics
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L))
      .toDF("src", "dst")
    // hand-unrolled: a0=1 everywhere; h1=outdeg: {1:2,2:2,3:1,4:0}
    // a1(v)=Σ_{u→v}h1(u): {2:2,3:4,4:3,1:0}
    // h2(u)=Σ_{u→v}a1(v): {1:6,2:7,3:3,4:0}
    // a2(v)=Σ_{u→v}h2(u): {2:6,3:13,4:10,1:0}
    val want2 = Set((1L, 6L, 0L), (2L, 7L, 6L), (3L, 3L, 13L), (4L, 0L, 10L))
    for (t <- tiers) assert(triples(tier(t, edges, 2)) == want2, s"tier=$t")
    // the public operator picks the local tier here
    assert(triples(Centrality.hitsCounts(edges, iters = 2)) == want2)
  }

  test("hitsCounts iters=1 and iters=3 match the direct recurrence on all tiers") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L))
      .toDF("src", "dst")
    // iters=1: h1=outdeg {1:2,2:2,3:1,4:0}; a1 {2:2,3:4,4:3,1:0}
    val want1 = Set((1L, 2L, 0L), (2L, 2L, 2L), (3L, 1L, 4L), (4L, 0L, 3L))
    // iters=3 continues the unrolling above:
    // h3(u)=Σ_{u→v}a2(v): {1:19,2:23,3:10,4:0}
    // a3(v)=Σ_{u→v}h3(u): {2:19,3:42,4:33,1:0}
    val want3 = Set((1L, 19L, 0L), (2L, 23L, 19L), (3L, 10L, 42L), (4L, 0L, 33L))
    for (t <- tiers) {
      assert(triples(tier(t, edges, 1)) == want1, s"iters=1 tier=$t")
      assert(triples(tier(t, edges, 3)) == want3, s"iters=3 tier=$t")
    }
  }

  test("local tier preserves int node dtype and matches the broadcast tier on int ids") {
    // int-typed ids: the local tier must return node as INT (the
    // distributed assembly's coalesce type), not silently widen to long
    val edges = spark.range(0, 400)
      .select((col("id") % 37).cast("int").as("src"),
        (col("id") % 23).cast("int").as("dst"))
    val local = Centrality.hitsCounts(edges, iters = 2)
    val dist = tier("broadcast", edges, 2)
    assert(local.schema("node").dataType == dist.schema("node").dataType,
      s"${local.schema} vs ${dist.schema}")
    val l = local.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val d = dist.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(l == d)
  }
}
