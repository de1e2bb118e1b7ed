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
  * for quick iteration.
  *
  * Usage: runMain graft.BenchScale <sfDir> [iters=3] [outFile] [nameRegex] */
object BenchScale {
  /** Heaviest/scale-critical entries (round-4/5 subset) — kept as the
    * quick-iteration filter `subset`. */
  val subset: Seq[String] = Seq(
    "dd_pipeline", "dd_ngram_jaccard", "dd_cluster", "mm_phash_cluster",
    "mm_phash", "ann_pq", "ann_ivf", "ann_ivf_pq", "ann_lsh",
    "dd_semantic", "dd_semantic_hier",
    "dd_bloom_gate", "dd_exact", "ta_tfidf", "ta_line_dedup",
    "dd_canonical", "ta_bm25",
    "q_agg_basic", "q_join_inner", "q_sessionize")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val outFile = args.lift(2).getOrElse("bench_scale.json")
    val nameFilter = args.lift(3).map(_.r)
    val cpus = GraftSession.cores
    // At sf ≥ 1 the sf0.1 default (one shuffle partition per core) makes
    // partitions outgrow executor memory and spill; raising the INITIAL
    // partition count and letting AQE coalesce small stages back down
    // (Spark's default) is the scale-ready shape (SPARK_GRAFT_SHUFFLE=256
    // for the sf1 run).
    val spark = GraftSession(cpus,
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
    Bench.warmUp(spark, sfDir) // same warm-up as Bench

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => nameFilter.forall(_.findFirstIn(n).isDefined))
    // A failed iteration must NOT contribute its (near-zero) wall time as
    // a bogus minimum, and the failure must survive into the JSON — a
    // silently-corrupted min_total invalidates every scaling conclusion
    // downstream (tools/pool_mins.py refuses failed entries). NonFatal
    // only: an OOM should kill the run, not be recorded as a data point.
    // FIRST iteration kept alongside min: OpCache memos and entry-local
    // persists make later iterations reflect the warmest run, so the min
    // is the AMORTIZED cost and the first successful iteration is the
    // cold cost — both are real, and BENCH_ALL carries both.
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (0 until iters).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench-scale] $name FAILED: ${e.getMessage}")
          None
        }
      }
      System.err.println(f"[bench-scale] $name: ${times.mkString("s, ")}s")
      // entry-scoped cache hygiene BETWEEN entries; within an entry the
      // iterations deliberately keep their persists (warm-min semantics)
      operators.OpCache.releaseScoped(spark)
      val sorted = times.sorted
      if (sorted.isEmpty) (name, None, None, None)
      else (name, Some(sorted.head), Some(sorted(sorted.length / 2)),
        Some(times.head))
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
