package graft

/** Multi-iteration scaling bench: runs queries N times at a given sf dir
  * and reports per-query MIN and MEDIAN. The sf0.1 local bench has 3-4×
  * run-to-run variance on single runs (page cache/JIT), and BENCH_sf1's
  * own host-noise finding showed a byte-identical re-run moving a median
  * 9.1 s → 24.5 s while per-iteration minima stayed stable — so scaling
  * RATIOS read the minima (least-noise estimate of intrinsic cost);
  * medians are kept for dispersion context.
  *
  * Runs the FULL SparkEntry inventory by default; pass a regex to narrow
  * for quick iteration — with a name regex it is the per-entry timer,
  * e.g. `BenchScale <sfDir> 3 /tmp/t.json '^q_agg_basic$'`.
  *
  * Usage: runMain graft.BenchScale <sfDir> [iters=3] [outFile] [nameRegex] */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val outFile = args.lift(2).getOrElse("bench_scale.json")
    val spark = GraftSession.harness()
    Bench.warmUp(spark, sfDir) // same warm-up as Bench

    // An entry any of whose iterations throws is failed: its (near-zero)
    // wall times must NOT become a bogus minimum, and the failure must
    // survive into the JSON — a silently-corrupted min_total invalidates
    // every scaling conclusion downstream (tools/pool_mins.py refuses
    // failed entries). FIRST iteration kept alongside min: OpCache memos
    // and entry-local persists make later iterations reflect the warmest
    // run (the loop releases an entry's pins only after all of its
    // iterations), so the min is the AMORTIZED cost and the first
    // iteration is the cold cost — both are real, and BENCH_ALL carries
    // both.
    val results = SparkEntry.each(spark, SparkEntry.queries, "bench-scale", args.lift(3)) {
      (name, fn) =>
        val times = (0 until iters).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        System.err.println(f"[bench-scale] $name: ${times.mkString("s, ")}s")
        val sorted = times.sorted
        (sorted.head, sorted(sorted.length / 2), times.head)
    }.map {
      case (name, Right((min, median, first))) => (name, Some(min), Some(median), Some(first))
      case (name, Left(_)) => (name, None, None, None)
    }
    val line = record(results, iters, sfDir)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    GraftSession.stop(spark)
  }

  /** The one-line record: per entry (name, min, median, first) seconds,
    * None where every iteration failed. */
  private[graft] def record(results: Seq[(String, Option[Double], Option[Double], Option[Double])],
      iters: Int, sfDir: String): String = {
    def jnum(v: Option[Double]): String = v.fold("null")(x => f"$x%.3f")
    def jmap(f: ((String, Option[Double], Option[Double], Option[Double])) => Option[Double]): String =
      results.map { r => "\"" + r._1 + "\":" + jnum(f(r)) }.mkString("{", ",", "}")
    val failed = results.filter(_._2.isEmpty).map(_._1)
    val minTotal = results.flatMap(_._2).sum
    val medTotal = results.flatMap(_._3).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    f"""{"metric":"min_total","value":$minTotal%.3f,"median_total":$medTotal%.3f,"unit":"sec","iters":$iters,"n_queries":${results.size},"failed":$failedJson,"queries_min":${jmap(_._2)},"queries_median":${jmap(_._3)},"queries_first":${jmap(_._4)},"sf":${Verify.q(sfDir)}}"""
  }
}
