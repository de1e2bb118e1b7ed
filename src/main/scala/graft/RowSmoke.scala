package graft

/** Scale smoke: run every entry at a (usually GenScale-tiled) sf dir and
  * record row counts. An entry that returns ZERO rows at scale while
  * passing the sf0.01 oracle is the r9 capstone regression class — a
  * threshold or stand-in whose semantics silently change with corpus
  * size (the bench can't see it: an empty plan is a FAST plan, and AQE
  * even rewards it with EmptyRelation). Exits non-zero when an entry not
  * in the allowed-empty set returns no rows.
  *
  * Usage: runMain graft.RowSmoke <sfDir> [outFile] [nameRegex] */
object RowSmoke {
  import Verify.q

  /** Entries that may legitimately return zero rows (set-difference /
    * anti-join / candidate-pair shapes whose expected result is "no
    * offenders" on a clean corpus) — same contract as QueriesSpec. */
  val mayBeEmpty: Set[String] = Set(
    "dd_minhash_lsh", "ann_lsh", "dd_ngram_jaccard", "dd_embed_cosine",
    "q_join_anti", "q_subquery_in", "q_agg_having", "q_except",
    "dd_edit_verify", "dd_split_leak")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("rowsmoke.json")
    val spark = GraftSession.harness()
    // table-subset dirs (the sf10 tile) only carry some tables: entries
    // whose inputs are absent throw, and on a subset dir that is a SKIP,
    // not a failure. The skip decision is PER ENTRY: an error is a skip
    // only when its message references a table that is actually missing
    // on disk (the thrown path names the parquet) — a genuine runtime
    // regression in an entry whose tables ARE present must still fail
    // the smoke, even on a subset tile. Missing-ness is decided from the
    // FILESYSTEM; a Spark upgrade that rewords the missing-path error
    // fails LOUD (entry lands in errored) rather than silently skipping.
    def has(t: String) = new java.io.File(s"$sfDir/$t.parquet").exists()
    val missing = Tables.all.filterNot(has)
    // the loop keeps the FULL message in Left: the missing-table skip
    // decision below greps it for the parquet path, which Spark often
    // prints deep inside a long analysis message — truncating could cut
    // the path out and misclassify a skip as a failure. The 200-char cap
    // is applied only at JSON emission.
    val counts = SparkEntry.each(spark, SparkEntry.queries, "row-smoke", args.lift(2)) {
      (_, fn) => fn(spark, sfDir).count()
    }
    val emptyBad = counts.collect {
      case (n, Right(0L)) if !mayBeEmpty(n) => n
    }
    val errored = counts.collect {
      case (n, Left(m))
        if !missing.exists(t => m.contains(t + ".parquet")) => n
    }
    val body = counts.map {
      case (n, Right(c)) => s"${q(n)}: $c"
      case (n, Left(m)) => s"${q(n)}: ${q("ERR: " + m.take(200))}"
    }.mkString("{", ",", "}")
    val line = s"""{"sf":${q(sfDir)},"empty_unexpected":[${emptyBad.map(q).mkString(",")}],"errored":[${errored.map(q).mkString(",")}],"rows":$body}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(s"[row-smoke] ${counts.size} entries, unexpected-empty: $emptyBad, errored: $errored")
    GraftSession.stop(spark)
    if (emptyBad.nonEmpty || errored.nonEmpty) sys.exit(1)
  }
}
