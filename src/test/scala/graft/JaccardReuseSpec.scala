package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.queries.Catalog

/** t_jaccard's exploded-shingle frame is not persisted: its three
  * consumers (the sizes aggregate and both self-join sides) sit above
  * the one Exchange(h) the df-window forces, and the ADAPTIVE final plan
  * reuses that exchange instead of shuffling the shingles three times
  * (the r17 −47% at ×30 rests on it, OPTIMIZATION_r17.md §7). This walks
  * the executed adaptive plan as a tree; the control case shows the walk
  * finds nothing with exchange reuse switched off.
  */
class JaccardReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // 240 docs over a 60-word letters-only vocabulary (digits split
  // tokens), every third doc a one-word edit of its predecessor, so the
  // 0.6 Jaccard filter keeps real pairs
  private lazy val dir: String = {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 60).map(i => s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}x")
    val docs = (0 until 240).foldLeft(Vector.empty[String]) { (acc, i) =>
      acc :+ (if (i % 3 == 2) acc.last.replaceFirst("w\\S+", vocab(rnd.nextInt(60)))
              else Seq.fill(25)(vocab(rnd.nextInt(60))).mkString(" "))
    }
    val d = java.nio.file.Files.createTempDirectory("jaccard_reuse").toString
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** Runs t_jaccard to completion and returns the final adaptive plan
    * and the answer pairs. The action runs on the query's own frame: a
    * derived frame (select, noop write) gets a QueryExecution of its
    * own, and this one's plan would stay initial.
    */
  private def run(): (SparkPlan, Set[(Long, Long)]) = {
    val df: DataFrame = Catalog.queries("t_jaccard")(spark, dir)
    val rows = df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.treeString)
    assert(plan.toString.contains("isFinalPlan=true"), plan.treeString)
    (plan, rows)
  }

  private def reusedShingleExchanges(plan: SparkPlan): Seq[ReusedExchangeExec] =
    collect(plan) {
      case r: ReusedExchangeExec if (r.child.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "h"
        case _ => false
      }) => r
    }

  test("t_jaccard's adaptive final plan reuses the Exchange(h) shuffle") {
    val (plan, rows) = run()
    assert(rows.nonEmpty, "fixture produced no near-duplicate pairs")
    assert(reusedShingleExchanges(plan).nonEmpty, plan.treeString)
  }

  test("control: with exchange reuse off the walk finds no reuse, answers unchanged") {
    val key = "spark.sql.exchange.reuse"
    val (_, expect) = run()
    spark.conf.set(key, "false")
    try {
      val (plan, rows) = run()
      assert(reusedShingleExchanges(plan).isEmpty, plan.treeString)
      assert(rows == expect)
    } finally spark.conf.unset(key)
  }
}
