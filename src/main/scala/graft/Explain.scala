package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * (all, if no names given) so scan pushdown (a parquet scan's
  * PushedFilters/ReadSchema; a connector scan's `GraftScan(..., quals=[...])`,
  * the Quals its pushed predicates became), join strategies, and
  * WholeStageCodegen spans can be inspected.
  * Usage: runMain graft.Explain [sfDir] [name ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // extra confs as in TimeQ (SPARK_GRAFT_CONF="k=v;k2=v2") — e.g.
    // dumping an eager AQE-off entry's plan under its execution conf
    val spark = GraftSession("8", TimeQ.envConfs: _*)
    names.foreach { n =>
      println(s"\n================ $n ================")
      try {
        // eager-by-design entries (stage counts at construction) would run
        // the full corpus and print a LocalRelation — show the lazy
        // substitute from the shared PlanContracts map instead
        val df = PlanContracts.eagerEntryAlternatives.get(n) match {
          case Some(alt) =>
            println("(entry is eager-by-design; showing its lazy chain — " +
              "see PlanContracts.eagerEntryAlternatives)")
            alt(spark, sfDir)
          case None => SparkEntry.queries(n)(spark, sfDir)
        }
        df.explain("formatted")
      }
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    GraftSession.stop(spark)
  }
}
