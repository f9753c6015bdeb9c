package graft

/** Plan inspection tool: `runMain graft.Explain <queryName> [sfDir]`
  * prints the formatted physical plan for any registered query (all of
  * them with no args). Used to audit the scale checklist per operator:
  * PushedFilters reach the parquet scan, ReadSchema is pruned, dimension
  * joins broadcast, aggregates are partial, WholeStageCodegen spans are
  * wide.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Session.local()
    val names = args.headOption match {
      case Some("all") | None => SparkEntry.queries.keys.toSeq.sorted
      case Some(n) => n.split(",").toSeq
    }
    for (n <- names) {
      println(s"\n========== $n ==========")
      // q91's served query is lineage-truncated (localCheckpoint per
      // iteration); `q91_step` exposes the iteration-1 plan over the
      // real graph store for the audit
      if (n == "q91_step")
        queries.AnalyticsQueries.prStepForAudit(spark, sfDir)
          .explain("formatted")
      else
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
