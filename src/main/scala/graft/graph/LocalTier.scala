package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A symmetrized edge list collected to the driver as primitive longs,
  * with the id type the distributed tier returns for its nodes.
  */
private[graft] final case class DriverGraph(edges: Array[(Long, Long)],
                                            idType: DataType, spark: SparkSession) {
  /** `df` with the `ids` columns cast back from long to the input id type. */
  def withIdType(df: DataFrame, ids: String*): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      if (ids.contains(c)) col(c).cast(idType).as(c) else col(c)): _*)
}

/** The one tier guard of the graph operators with a driver-local body
  * (connectedComponents, graphInfo, closeness, eccentricity,
  * betweenness). Their distributed forms pay ~2 Spark jobs per BFS level
  * or label round: the right trade on a billion-edge graph, pure
  * scheduler overhead on the ≤ 25-node nation summaries the catalog
  * builds (g_info measured 1.16 s distributed vs ~0.15 s local at sf0.1).
  */
private[graft] object LocalTier {

  /** `local` over the collected symmetrized `edges` when [[collect]] gets
    * them, else `distributed`.
    */
  def dispatch(edges: DataFrame)(local: DriverGraph => DataFrame)
              (distributed: => DataFrame): DataFrame =
    collect(Centrality.symmetrize(edges)).fold(distributed)(local)

  /** Whether ids pack into primitive longs. Schema-only — runs no job. */
  def integralIds(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** The symmetrized edge frame `und` (src, dst) on the driver, or None
    * when non-integral ids (no job run) or more than 200k rows (≈ 3 MB on
    * the driver) make it too big. Count-then-collect (2 jobs), NOT
    * limit(cap + 1).collect(): that plans CollectLimitExec, whose
    * incremental partition fetch (1, then 4x, ...) runs FOUR sequential
    * rounds when a tiny graph never fills the limit — measured
    * g_components 0.60 -> 0.94 s before reverting (round 10).
    */
  def collect(und: DataFrame): Option[DriverGraph] =
    if (!integralIds(und, "src", "dst") || und.count() > 200000L) None
    else Some(collectUnguarded(und))

  /** [[collect]] for a caller that has bounded the rows and checked
    * [[integralIds]] itself.
    */
  def collectUnguarded(und: DataFrame): DriverGraph =
    DriverGraph(
      und.selectExpr("cast(src as long)", "cast(dst as long)")
        .collect().map(r => (r.getLong(0), r.getLong(1))),
      und.schema("src").dataType, und.sparkSession)
}
