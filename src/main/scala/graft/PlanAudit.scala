package graft

/** Generates PLANS_r*.md FROM the PlanContracts assertions (the same
  * table the PlanSpec tier enforces in `sbt test`), so the committed
  * audit document is a report of machine-checked contracts, not prose
  * that can drift. Each entry section lists its contracts with ✅/❌ and
  * appends the AQE-final executed plan under the big-stats simulation.
  *
  * Usage: runMain graft.PlanAudit <sfDir> <outFile> */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS_generated.md")
    val spark = GraftSession("8") // PlanSpec's width

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit (GENERATED by `graft.PlanAudit`)\n\n"
    sb ++= s"Source of truth: `PlanContracts.audited` — the same contract table\n"
    sb ++= s"PlanSpec enforces in `sbt test`, evaluated here at `$sfDir` on the\n"
    sb ++= "AQE-final executed plan with `autoBroadcastJoinThreshold = -1`\n"
    sb ++= "(big-stats simulation: only DECLARED broadcasts survive — the\n"
    sb ++= "planner behavior at sf1+ stats). Regenerate with\n"
    sb ++= "`sbt \"runMain graft.PlanAudit <sfDir> <outFile>\"`.\n\n"
    sb ++= "Streaming entries express their scale contracts in StreamingSpec\n"
    sb ++= "(micro-batch plans are per-trigger, not capturable here).\n"

    var failures = 0
    PlanContracts.withBigStats(spark) {
      PlanContracts.audited.foreach { case (name, _) =>
        val (plan, results) = PlanContracts.audit(spark, sfDir, name)
        sb ++= s"\n## $name\n\n"
        results.foreach { case (desc, ok) =>
          if (!ok) failures += 1
          sb ++= s"- ${if (ok) "✅" else "❌"} $desc\n"
        }
        sb ++= "\n```\n" + plan.take(12000) + "\n```\n"
        println(s"[plan-audit] $name: ${results.count(_._2)}/${results.size} contracts hold")
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"[plan-audit] wrote $outFile; $failures contract failures")
    GraftSession.stop(spark)
    if (failures > 0) sys.exit(1)
  }
}
