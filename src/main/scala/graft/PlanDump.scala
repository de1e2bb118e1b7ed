package graft

/** Debug tool: print ONE entry's AQE-final executed plan (full text, no
  * truncation) under the same big-stats simulation PlanSpec/PlanAudit use —
  * for pinning new PlanContracts without guessing at node counts.
  * Usage: sbt "runMain graft.PlanDump <sfDir> <entryName>" */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val name = args.lift(1).getOrElse("q_agg_basic")
    val spark = GraftSession("8") // PlanSpec's width
    PlanContracts.withBigStats(spark) {
      val p = PlanContracts.finalPlan(spark, sfDir, name)
      println("==== FINAL SECTION ====")
      println(p.finalSection)
      println("==== FULL ====")
      println(p.full)
    }
    GraftSession.stop(spark)
  }
}
