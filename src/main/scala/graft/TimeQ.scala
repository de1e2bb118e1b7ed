package graft

/** Single-query timing harness for perf iteration:
  * runMain graft.TimeQ <sfDir> <queryName> [iters=3]
  * Prints one line per iteration (noop-sink materialization, same as
  * Bench) so per-query changes can be A/B'd without a full bench run. */
object TimeQ {
  /** Extra confs for A/B runs, SPARK_GRAFT_CONF="k=v;k2=v2" (TimeQ and
    * Explain). */
  def envConfs: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';').toSeq)
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession(envConfs: _*)
    streaming.Streams.useTmpfsCheckpoints(spark) // replay ckpts are scratch
    // comma-separated names share one JVM (amortizes startup for A/B
    // sweeps over several entries); iteration loops stay per-entry
    for (n <- name.split(',').toSeq) {
      val fn = SparkEntry.queries(n)
      for (i <- 1 to iters) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[timeq] $n iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      // Entry-scoped cache hygiene BETWEEN entries (after the iteration
      // loop, so warm-iteration semantics within an entry are unchanged
      // and A/B numbers stay comparable with earlier rounds').
      operators.OpCache.releaseScoped(spark)
    }
    GraftSession.stop(spark)
  }
}
