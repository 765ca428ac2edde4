package graft

/** The dev-loop query filter shared by [[Bench]], [[Verify]] and
  * [[ExplainAll]]: `SPARK_GRAFT_ONLY=q1,q2` restricts a run to those
  * catalog queries. Unset, empty or blank means the full catalog (an
  * empty string once parsed to Set("") and silently filtered out every
  * query — round-9 ADVICE), so a run without it is always complete.
  */
object QueryFilter {

  /** The selected catalog query names, sorted. Names that are not in the
    * catalog are reported on stderr, so a typo does not pass as a run.
    */
  def names(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] = {
    val only = raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val catalog = SparkEntry.queries.keySet
    only.map(_ -- catalog).filter(_.nonEmpty).foreach { unknown =>
      System.err.println(s"[only] not in the catalog, ignored: ${unknown.toSeq.sorted.mkString(",")}")
    }
    catalog.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }
}
