package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-8 operator batch that the row/hash oracle
  * can't express: conservation laws (soft-dedup mass, Lloyd-assignment
  * partition), algebraic envelopes (quantization error bound, winnowing
  * density), and funnel monotonicity. Run at sf0.001. */
class OpInvariantsSpec extends SparkSpec {

  private def run(name: String, dir: String = sf) =
    SparkEntry.queries(name)(spark, dir)

  test("dd_soft: keeps every row and each dup cluster carries total mass 1") {
    val docs = Tables.t(spark, sf, "documents")
    val out = run("dd_soft").cache()
    try {
      assert(out.count() == docs.count(), "soft dedup must not drop rows")
      // sum of weights = number of distinct texts (each cluster sums to 1);
      // weights are exact reciprocals so the double sum is exact too
      val wsum = out.agg(sum("weight")).head.getDouble(0)
      val nTexts = docs.select(countDistinct(md5(col("text")))).head.getLong(0)
      assert(math.abs(wsum - nTexts) < 1e-6,
        s"weight mass $wsum must equal distinct-text count $nTexts")
      assert(out.filter(col("weight") <= 0 || col("weight") > 1).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_funnel: stage counts are monotone non-increasing, conv in [0,1]") {
    val rows = run("q_funnel").orderBy("stage").collect()
    assert(rows.length == 3)
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel must narrow: ${ns.toSeq}")
    val convs = rows.map(_.getAs[Double]("conv"))
    assert(convs(0) == 1.0 && convs.forall(c => c >= 0.0 && c <= 1.0))
  }

  test("emb_quantize: mse within the scalar-quantization half-step bound") {
    // round-to-nearest puts every residual within scale/2, so
    // mse <= (scale/2)^2; violating this means a code escaped [-127, 127]
    val bad = run("emb_quantize")
      .filter(col("mse") > col("scale") * col("scale") / 4)
    assert(bad.count() == 0, "per-dim residual exceeded half a quantization step")
  }

  test("ann_kmeans_refine: assignment partitions the corpus; shifts are finite") {
    val out = run("ann_kmeans_refine").cache()
    try {
      val n = Tables.t(spark, sf, "embeddings").count()
      val popSum = out.agg(sum("pop")).head.getLong(0)
      assert(popSum == n, s"cell populations $popSum must partition all $n vectors")
      assert(out.count() <= operators.Similarity.scaledK(n),
        "cannot emit more cells than centroids")
      assert(out.filter(col("shift2") < 0 || col("shift2").isNull).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("dd_containment: containment in [0.8, 1]; exact dups contain both ways") {
    val out = run("dd_containment").cache()
    try {
      assert(out.filter(col("cont") < 0.8 || col("cont") > 1.0).count() == 0)
      // planted exact duplicates (same text) must appear in BOTH directions
      // with cont = 1 — containment of equals is symmetric
      val dups = Tables.t(spark, sf, "documents").alias("a")
        .join(Tables.t(spark, sf, "documents").alias("b"),
          col("a.text") === col("b.text") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      val missing = dups.join(out.filter(col("cont") === 1.0),
        Seq("ia", "ib"), "left_anti")
      assert(missing.count() == 0, "exact dup pair missing from containment output")
    } finally { out.unpersist(); () }
  }

  test("ta_winnow: picks per doc sit inside the winnowing density envelope") {
    // every window picks exactly one (hash, pos); one pick can serve at
    // most w = 4 consecutive windows -> n_windows/4 <= n_fp <= n_windows
    val bad = run("ta_winnow").filter(
      col("n_fp") > col("n_windows") ||
        col("n_fp") * 4 < col("n_windows"))
    assert(bad.count() == 0)
  }

  test("st_left_join: one row per unmatched purchase, nulls complete the purchases") {
    val out = run("st_left_join").cache()
    try {
      val purchases = Tables.t(spark, sf, "events")
        .filter(col("event_type") === "purchase").count()
      assert(out.select("purchase_id").distinct().count() == purchases,
        "every purchase must appear (matched or null-padded)")
      val nullRows = out.filter(col("view_id").isNull)
      assert(nullRows.count() ==
        nullRows.select("purchase_id").distinct().count(),
        "an unmatched purchase emits exactly one null row")
    } finally { out.unpersist(); () }
  }

  test("st_dedup_watermark: base corpus emits exactly once; re-emits are a strict subset") {
    val out = run("st_dedup_watermark").cache()
    try {
      val n = Tables.t(spark, sf, "events").count()
      val perKey = out.groupBy("event_id").agg(count(lit(1)).as("c"))
      assert(perKey.count() == n, "every event_id emits at least once")
      assert(perKey.filter(col("c") > 2).count() == 0,
        "a key can emit at most twice (base + one post-TTL replay)")
      val reemits = out.count() - n
      assert(reemits > 0 && reemits < n,
        s"TTL must be observable: 0 < $reemits < $n re-emits")
    } finally { out.unpersist(); () }
  }

  test("ta_gopher_rules: keep is exactly the conjunction of the rule flags") {
    val out = run("ta_gopher_rules").cache()
    try {
      assert(out.count() == Tables.t(spark, sf, "documents").count(),
        "the rule pass annotates every document, drops none")
      val bad = out.filter(col("keep") =!=
        (col("f_count") && col("f_meanlen") && col("f_symbol")
          && col("f_alpha") && col("f_stop")))
      assert(bad.count() == 0, "keep must equal the AND of its flags")
    } finally { out.unpersist(); () }
  }

  test("ta_quality_prune: kept set is exactly each source's top quality quartile") {
    val out = run("ta_quality_prune").cache()
    try {
      // defining property: the kept fraction per source stays a quartile
      // and no row escapes the percent_rank cutoff
      val perSrc = out.groupBy("source")
        .agg(min("quality").as("min_kept"), count(lit(1)).as("n_kept"))
      val total = Tables.t(spark, sf, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_src"))
      val joined = perSrc.join(total, "source")
      // pr = (rk-1)/(n-1) <= 0.25 keeps exactly floor(0.25(n-1))+1 rows
      assert(joined.filter(col("n_kept") * 4 > col("n_src") + 3).count() == 0,
        "kept count must stay within the percent_rank quartile bound")
      assert(out.filter(col("pr") > 0.25).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_gaps_islands: islands partition each event_type's id set exactly") {
    val out = run("q_gaps_islands").cache()
    try {
      val ev = Tables.t(spark, sf, "events")
      // mass: island lengths sum to the type's row count, and each island
      // is internally dense (len == end - start + 1)
      val mass = out.groupBy("event_type").agg(sum("island_len").as("m"))
        .join(ev.groupBy("event_type").agg(count(lit(1)).as("n")), "event_type")
      assert(mass.filter(col("m") =!= col("n")).count() == 0)
      assert(out.filter(
        col("island_len") =!= col("island_end") - col("island_start") + 1)
        .count() == 0, "an island must be a dense id run")
    } finally { out.unpersist(); () }
  }

  test("q_retention: offset-0 cell is each cohort's maximum (cohort size)") {
    val out = run("q_retention").cache()
    try {
      assert(out.filter(col("week_offset") < 0).count() == 0)
      val base = out.filter(col("week_offset") === 0)
        .select(col("cohort"), col("n_users").as("n0"))
      val bad = out.join(base, "cohort").filter(col("n_users") > col("n0"))
      assert(bad.count() == 0,
        "no later offset can retain more users than the cohort has")
    } finally { out.unpersist(); () }
  }

  test("ta_bpe_learn: batched merges — non-conflicting, ranked, never re-learned") {
    val rows = run("ta_bpe_learn").orderBy("it", "rk").collect()
    // 5 iterations × up to 8 merges; at least the rank-1 merge per iteration
    assert(rows.length >= 5 && rows.length <= 40, s"got ${rows.length} merges")
    val byIter = rows.groupBy(_.getAs[Long]("it"))
    assert(byIter.keySet == Set(0L, 1L, 2L, 3L, 4L), "every iteration learns")
    byIter.foreach { case (it, g) =>
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to g.length).toSeq,
        s"iteration $it ranks must be contiguous 1..m")
      // within an iteration: ranked by count (desc), and the batch is
      // CONFLICT-FREE — no symbol appears in two of its pairs (the
      // property that makes the one-pass fold order-independent)
      val cnts = sorted.map(_.getAs[Long]("cnt"))
      assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
        s"iteration $it counts must be non-increasing by rank: ${cnts.toSeq}")
      val symUses = sorted.flatMap(r =>
        Seq(r.getAs[String]("l"), r.getAs[String]("r")))
      assert(symUses.distinct.length == symUses.length,
        s"iteration $it batch must have pairwise-disjoint symbols: ${symUses.toSeq}")
    }
    // across iterations: merging can only shrink existing pair counts, and
    // any NEW pair containing a merged symbol occurs at most cnt(batch max)
    // times — so the per-iteration MAX sequence is non-increasing
    val maxes = (0L to 4L).map(it => byIter(it).map(_.getAs[Long]("cnt")).max)
    assert(maxes.zip(maxes.tail).forall { case (a, b) => a >= b },
      s"per-iteration max counts must be non-increasing: $maxes")
    val pairs = rows.map(r => (r.getAs[String]("l"), r.getAs[String]("r")))
    assert(pairs.distinct.length == pairs.length, "the same pair cannot be re-learned")
  }

  test("ta_bpe_apply: every word encodes to [1, wlen] tokens; merges only compress") {
    val out = run("ta_bpe_apply").cache()
    try {
      assert(out.count() == Tables.t(spark, sf, "documents").count())
      assert(out.filter(col("n_tokens") > col("n_chars")).count() == 0,
        "a merge can never grow a word beyond its character count")
      assert(out.filter(col("n_tokens") < col("n_words")).count() == 0,
        "every word is at least one token")
      assert(out.filter(col("ratio") < 1.0).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("ann_nndescent: k-regular graph that pointwise dominates the ring init") {
    val out = run("ann_nndescent").cache()
    try {
      val n = Tables.t(spark, sf, "embeddings").count()
      assert(out.count() == 4 * n, "every vector keeps exactly k=4 neighbors")
      assert(out.filter(col("vec_id") === col("n_id")).count() == 0)
      assert(out.filter(col("cos") < -1.0000001 || col("cos") > 1.0000001)
        .count() == 0)
      // B0 ⊆ candidates ⇒ the refined rank-1 cos can never be worse than
      // the best DIRECTED ring neighbor — recompute the ring init's best
      // cosine per vec_id and assert pointwise dominance (not just |cos|≤1)
      val nrm = Tables.t(spark, sf, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
      val ringBest = nrm
        .select(col("vec_id").as("a"), explode(expr("array(1L, 2L, 3L, 4L)")).as("j"))
        .withColumn("b", (col("a") + col("j")) % lit(n))
        .join(nrm.select(col("vec_id").as("a"), col("v").as("va"), col("n2").as("na")), "a")
        .join(nrm.select(col("vec_id").as("b"), col("v").as("vb"), col("n2").as("nb")), "b")
        .withColumn("rcos",
          expr("dot_product(va, vb)") / (sqrt(col("na")) * sqrt(col("nb"))))
        .groupBy(col("a").as("vec_id")).agg(max("rcos").as("ring_best"))
      val worse = out.filter(col("rk") === 1)
        .join(ringBest, "vec_id")
        .filter(col("cos") < col("ring_best") - lit(1e-9))
      assert(worse.count() == 0,
        "refined rank-1 cosine must dominate the ring init's best neighbor")
      val dup = out.groupBy("vec_id", "n_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
      assert(dup.count() == 0, "neighbor lists contain no duplicate edges")
    } finally { out.unpersist(); () }
  }

  test("ta_pipeline_curate: stages compose monotonically; weights are a distribution") {
    val out = run("ta_pipeline_curate").cache()
    try {
      val docs = Tables.t(spark, sf, "documents")
      val n = out.count()
      assert(n > 0 && n < docs.count(),
        "the pipeline must keep some docs and drop some")
      assert(out.select("doc_id").distinct().count() == n, "one row per doc")
      // survivors passed the standalone Gopher gate (stage 1 is the same
      // predicate set — composition must not resurrect a rejected doc)
      val gop = run("ta_gopher_rules").filter(col("keep")).select("doc_id")
      assert(out.join(gop, Seq("doc_id"), "left_anti").count() == 0,
        "a doc rejected by the standalone Gopher gate survived the pipeline")
      // dedup held: no survivor is a near-dup pair's dropped side
      val dupIb = run("dd_minhash_lsh")
        .select(col("ib").as("doc_id")).distinct()
      assert(out.join(dupIb, Seq("doc_id"), "left_semi").count() == 0,
        "a near-dup 'later' doc survived the anti-join")
      // per-source mixing weights form a distribution (Σ over sources = 1)
      val wsum = out.select("source", "src_weight").distinct()
        .agg(sum("src_weight")).head.getDouble(0)
      assert(math.abs(wsum - 1.0) < 1e-9, s"src_weight mass $wsum must be 1")
      assert(out.filter(col("contain") < 0.0 || col("contain") >= 0.5).count() == 0,
        "contain must lie in [0, 0.5) after the decontamination gate")
      assert(out.filter(!col("split").isin("train", "val", "test")).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("dd_span_scrub: every doc survives; removal matches the dd_span signal") {
    val out = run("dd_span_scrub").cache()
    try {
      val docs = Tables.t(spark, sf, "documents")
      assert(out.count() == docs.count(), "scrubbing annotates every doc")
      assert(out.filter(col("n_removed") < 0 || col("n_removed") > col("n_toks"))
        .count() == 0)
      // the reassembled text's token count is exactly n_toks - n_removed
      val bad = out.filter(
        expr("CAST(size(filter(split(clean_text, ' '), t -> t <> '')) AS BIGINT)")
          =!= col("n_toks") - col("n_removed"))
      assert(bad.count() == 0, "clean_text token count must equal n_toks - n_removed")
      // consistency with the signal operator: a doc with zero duplicated
      // spans loses zero tokens
      val clean0 = run("dd_span").filter(col("n_dup_spans") === 0).select("doc_id")
      assert(out.filter(col("n_removed") > 0)
        .join(clean0, Seq("doc_id"), "left_semi").count() == 0,
        "a doc with no duplicated spans lost tokens")
      // and the operator is observable on this corpus: something was removed
      assert(out.agg(sum("n_removed")).head.getLong(0) > 0,
        "the corpus plants near-dup docs — scrubbing must remove something")
    } finally { out.unpersist(); () }
  }

  test("ta_quality_classifier: exact-integer linear scorer over the DSIR feature store") {
    val out = run("ta_quality_classifier").cache()
    try {
      val docs = Tables.t(spark, sf, "documents")
      assert(out.count() == docs.count(), "every doc is scored")
      assert(out.filter(col("keep") =!= (col("score") > 0)).count() == 0,
        "keep must be exactly score > 0")
      // the closed-form weights satisfy Σ_b w_b = Σ_b (pos_b·NEG − neg_b·POS)
      // = POS·NEG − NEG·POS ≡ 0 — so a doc whose grams cover the buckets
      // with the CLASS-AVERAGE profile scores 0, and the all-bucket sum
      // degenerates exactly; verify through the same shared definitions
      import graft.operators.Curation2
      val gb = Curation2.dsirBuckets(spark, sf)
      val lab = gb.filter(col("doc_id") < 4000)
      def tot(src: Boolean) = lab
        .filter(if (src) col("source") === "src0" else col("source") =!= "src0")
        .select(explode(col("bks")).as("b")).groupBy("b")
        .agg(count(lit(1)).as("c"))
      val p = tot(true).agg(sum("c")).head.getLong(0)
      val n = tot(false).agg(sum("c")).head.getLong(0)
      val wsum = tot(true).select(col("b"), (col("c") * n).as("w"))
        .unionAll(tot(false).select(col("b"), (-col("c") * p).as("w")))
        .agg(sum("w")).head.getLong(0)
      assert(wsum == 0L, s"Σ_b w_b must be exactly 0, got $wsum")
      // n_grams accounting matches the feature store
      val ng = gb.select(col("doc_id"), expr("CAST(size(bks) AS BIGINT)").as("g2"))
      assert(out.join(ng, "doc_id").filter(col("n_grams") =!= col("g2")).count() == 0,
        "n_grams must equal the shared feature-store gram count")
      // a zero-gram doc scores exactly 0 and is dropped (score > 0 is strict)
      assert(out.filter(col("n_grams") === 0 && col("score") =!= 0).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("ta_pipeline_scrub: every doc survives; stages match their standalone ops") {
    val out = run("ta_pipeline_scrub").cache()
    try {
      val docs = Tables.t(spark, sf, "documents")
      assert(out.count() == docs.count(), "rewriting annotates every doc")
      assert(out.select("doc_id").distinct().count() == docs.count(), "one row per doc")
      // stage-1 composition consistency: n_pii is exactly the standalone
      // ta_pii_scrub count (shared definition — must not drift)
      val solo = run("ta_pii_scrub").select(col("doc_id"), col("n_pii").as("solo_pii"))
      assert(out.join(solo, "doc_id")
        .filter(col("n_pii") =!= col("solo_pii")).count() == 0,
        "capstone stage-1 n_pii diverged from standalone ta_pii_scrub")
      // accounting identity: the final text's token count IS n_toks_final
      val bad = out.filter(
        expr("CAST(size(filter(split(clean_text, ' '), t -> t <> '')) AS BIGINT)")
          =!= col("n_toks_final"))
      assert(bad.count() == 0, "clean_text token count must equal n_toks_final")
      assert(out.filter(col("n_seg_removed") < 0 || col("n_span_removed") < 0
        || col("n_toks_final") < 0).count() == 0)
      // every stage is OBSERVABLE on this corpus: the scrub normalizes
      // per-doc-unique PII into identical placeholder tokens, which the
      // dedup stages then remove as the boilerplate it just became
      val sums = out.agg(sum("n_pii"), sum("n_seg_removed"), sum("n_span_removed")).head
      assert(sums.getLong(0) > 0 && sums.getLong(1) > 0 && sums.getLong(2) > 0,
        s"all three rewriting stages must fire on this corpus: $sums")
    } finally { out.unpersist(); () }
  }

  test("dd_rep_rank: one representative per cluster, and it maximizes centrality") {
    val out = run("dd_rep_rank", "/root/testdata/sf0.01").cache()
    try {
      assert(out.count() > 0, "pair graph is non-empty at sf0.01")
      // exactly one is_rep per cluster
      val perCluster = out.groupBy("cluster_id")
        .agg(sum(when(col("is_rep"), 1L).otherwise(0L)).as("reps"),
          max("centrality").as("cmax"))
      assert(perCluster.filter(col("reps") =!= 1L).count() == 0,
        "every cluster has exactly one representative")
      // the rep carries the cluster's max centrality
      val repMax = out.filter(col("is_rep"))
        .join(perCluster, "cluster_id")
        .filter(col("centrality") =!= col("cmax"))
      assert(repMax.count() == 0, "representative must maximize centrality")
      // rank mass conservation: total scaled mass stays within the
      // truncation envelope — each floor-division loses < 1 unit, so
      // after a round the total is <= prScale and >= prScale - (n + edges)
      val n = out.count()
      val mass = out.agg(sum("centrality")).head.getLong(0)
      assert(mass <= 1000000000000L && mass > 1000000000000L / 2,
        s"rank mass $mass out of the truncation envelope for n=$n")
      // cluster labels agree with dd_cluster's components
      val cc = run("dd_cluster", "/root/testdata/sf0.01")
        .select(col("doc_id"), col("cluster_id").as("cc_id"))
      assert(out.join(cc, "doc_id").filter(col("cluster_id") =!= col("cc_id"))
        .count() == 0, "cluster labels must match dd_cluster")
    } finally { out.unpersist(); () }
  }

  test("ta_sample_stratified: per-source count equals the exact ceil quota") {
    val out = run("ta_sample_stratified").cache()
    try {
      val got = out.groupBy("source").agg(
        count(lit(1)).as("n_got"), max("quota").as("q"))
      val want = Tables.t(spark, sf, "documents").groupBy("source")
        .agg(expr("(count(1) + 19) div 20").as("want"))
      val bad = got.join(want, "source")
        .filter(col("n_got") =!= col("want") || col("q") =!= col("want"))
      assert(bad.count() == 0, "sampled count must equal ceil(n/20) per source")
      // every source is represented (ceiling quota never rounds to zero)
      assert(got.count() ==
        Tables.t(spark, sf, "documents").select("source").distinct().count())
      // deterministic: same doc set on a second evaluation
      assert(run("ta_sample_stratified").exceptAll(out).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("emb_recall_eval: one row per query; recall in [0,1] and consistent with n_hit") {
    val out = run("emb_recall_eval", "/root/testdata/sf0.01").cache()
    try {
      assert(out.count() == 8, "one row per probe query")
      assert(out.filter(col("n_hit") < 0 || col("n_hit") > 5).count() == 0)
      assert(out.filter(col("recall_at_5") =!=
        col("n_hit").cast("double") / lit(5.0)).count() == 0)
      // the index is sound on this corpus: mean recall above the spec floor
      val mean = out.agg(avg("recall_at_5")).head.getDouble(0)
      assert(mean >= 0.5, s"mean recall@5 $mean below the pinned floor")
    } finally { out.unpersist(); () }
  }

  test("q_concurrency: equals the naive single-threaded sweep per type") {
    // the entry computes the sweep as a DISTRIBUTED prefix sum (within-day
    // runs + day-carry); this pin proves the decomposition against the
    // textbook sequential formulation on the same data
    val ev = Tables.t(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("t")).collect()
    val expected = ev.groupBy(_.getString(0)).map { case (tp, rows) =>
      val deltas = rows.toSeq.flatMap(r =>
        Seq((r.getLong(1), 1L), (r.getLong(1) + 300000000L, -1L)))
        .sortBy(identity)
      var open = 0L; var mx = 0L; var peak = Long.MaxValue
      deltas.foreach { case (t, dl) =>
        open += dl
        if (open > mx) { mx = open; peak = t }
      }
      tp -> ((mx, peak))
    }
    val got = run("q_concurrency").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"distributed sweep diverged: $got vs $expected")
  }

  test("q_timeseries_fill: gapless spine; observed days exact; gaps carry LOCF") {
    val out = run("q_timeseries_fill")
      .select("event_type", "day", "total", "filled").cache()
    try {
      val ev = Tables.t(spark, sf, "events")
      val span = ev.agg(to_date(min("ts")), to_date(max("ts"))).head
      val nDays = java.time.temporal.ChronoUnit.DAYS.between(
        span.getDate(0).toLocalDate, span.getDate(1).toLocalDate) + 1
      val nTypes = ev.select("event_type").distinct().count()
      assert(out.count() == nDays * nTypes,
        s"spine must be exactly |types|×|days| = ${nDays * nTypes}")
      val obs = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(Exact.sumd(Exact.d2(col("value"))).as("total")).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getDouble(2))
        .toMap
      out.orderBy("event_type", "day").collect()
        .groupBy(_.getString(0)).foreach { case (tp, rows) =>
          var carry: Option[Double] = None
          rows.sortBy(_.getDate(1).toString).foreach { r =>
            val key = (tp, r.getDate(1).toString)
            if (!r.getBoolean(3)) {
              assert(obs.contains(key) && obs(key) == r.getDouble(2),
                s"observed day $key must carry the exact daily aggregate")
              carry = Some(r.getDouble(2))
            } else {
              assert(!obs.contains(key), s"gap day $key exists in the data")
              carry match {
                case Some(v) => assert(r.getDouble(2) == v,
                  s"gap day $key must carry the last observation forward")
                case None => assert(r.isNullAt(2),
                  s"gap before $tp's first observation must stay NULL")
              }
            }
          }
        }
    } finally { out.unpersist(); () }
  }

  test("dd_lsh_curve: full grid, pow-reference parity, pair mass conserved") {
    val rows = run("dd_lsh_curve")
      .select("bucket", "s_lo", "detect_p", "n_pairs")
      .orderBy("bucket").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 20L), "21-bucket grid")
    rows.foreach { r =>
      val ref = 1.0 - math.pow(1.0 - math.pow(r.getDouble(1), 4), 16)
      assert(math.abs(r.getDouble(2) - ref) < 1e-12,
        s"multiplication chain diverged from pow at s=${r.getDouble(1)}")
    }
    // the S-curve is monotone non-decreasing in s
    assert(rows.map(_.getDouble(2)).sliding(2)
      .forall(a => a.length < 2 || a(0) <= a(1)), "S-curve monotonicity")
    // every verified pair lands in exactly one bucket, all at jacc >= 0.7
    assert(rows.map(_.getLong(3)).sum == run("dd_minhash_lsh").count(),
      "bucket counts must partition the shared pair index")
    assert(rows.filter(_.getLong(0) < 14).forall(_.getLong(3) == 0L),
      "verification floor 0.7 ⇒ buckets below 14 are empty")
  }

  test("mm_pipeline_paired: variant rule twins agree; both gates binding; " +
      "re-encodes never survive") {
    import graft.operators.Multimodal
    // the Column twins cannot drift from the Scala planting rule
    val ids = spark.range(-5, 40).toDF("id")
    val viaCol = ids.select(col("id"),
      Multimodal.hasVariantCol(col("id")).as("hv"),
      Multimodal.variantIdCol(col("id")).as("vid")).collect()
    viaCol.foreach { r =>
      assert(r.getBoolean(1) == Multimodal.hasVariant(r.getLong(0)))
      assert(r.getLong(2) == Multimodal.variantId(r.getLong(0)))
    }
    val out = run("mm_pipeline_paired").cache()
    try {
      assert(out.count() > 0, "pairs must survive at sf0.001")
      // media gate: a surviving pair's media is canonical — planted
      // re-encodes (negative ids) are ALWAYS non-canonical (their
      // original is the min non-negative member of the cluster), so none
      // may appear
      assert(out.filter(col("media_id") < 0).count() == 0,
        "a planted re-encode survived the near-dup collapse")
      // caption gate: every surviving pair's caption passed the shared
      // classifier; and the gate is BINDING — some classifier-negative
      // captions exist in the corpus
      assert(out.filter(col("cap_score") <= 0).count() == 0)
      val negCaps = graft.operators.Curation2.classifierScores(spark, sf)
        .filter(col("score") <= 0).count()
      assert(negCaps > 0, "the caption gate must have something to reject")
      // metadata gate binding too
      assert(out.filter(col("n_bytes") < 200).count() == 0)
      // pairing integrity: media_id maps back to its caption doc
      val broken = out.filter(
        when(col("media_id") >= 0, col("media_id") =!= col("caption_id"))
          .otherwise((-col("media_id") - 1) =!= col("caption_id"))).count()
      assert(broken == 0, "media→caption pairing broken")
    } finally { out.unpersist(); () }
  }

  test("gram_hits equals the explode+semi-join formulation (incl. non-BMP)") {
    import spark.implicits._
    // corpus text plus crafted rows: short (<8 cp), exact 8 cp,
    // supplementary characters (codepoint-indexed gram boundaries), and
    // repeated grams (distinctness of the hit count)
    val crafted = Seq(
      (9000001L, "short"), (9000002L, "exactly8"),
      (9000003L, "a😀bcdefgh😀xyz abcdefgh"),
      (9000004L, "abcdefgh abcdefgh abcdefgh zzzz"))
      .toDF("doc_id", "text")
    val all = Tables.t(spark, sf, "documents").select("doc_id", "text")
      .union(crafted)
    val bench = all.filter(col("doc_id") % 97 === 0)
      .select(explode(expr("char_shingles(text, 8)")).as("sg")).distinct()
    val viaJoin = all
      .select(col("doc_id"), explode(expr("char_shingles(text, 8)")).as("sg"))
      .join(broadcast(bench), Seq("sg"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val expected = all.select("doc_id").join(viaJoin, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val benchRow = bench.agg(sort_array(collect_list(col("sg"))).as("bgs"))
    val got = all.crossJoin(broadcast(benchRow))
      .select(col("doc_id"), expr("gram_hits(text, 8, bgs)").as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got(9000001L) == 0L, "sub-gram-width text must count zero")
  }
}
