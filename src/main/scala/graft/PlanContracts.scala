package graft

import org.apache.spark.sql.SparkSession

/** The sf1-scale plan audit as DATA, shared by the PlanSpec tier (runs
  * continuously in `sbt test`) and the `graft.PlanAudit` main (generates
  * PLANS_r*.md) — so the committed audit document and the enforced
  * assertions can never drift apart (the round-6 verdict's ask: the
  * hand-read PLANS file becomes generated FROM the assertions).
  *
  * Every contract is evaluated on the AQE-FINAL executed plan under
  * BIG-STATS SIMULATION: `spark.sql.autoBroadcastJoinThreshold = -1`.
  * At sf1+ parquet stats nothing auto-broadcasts, so a broadcast that
  * must survive at scale has to be DECLARED in the plan — the round-5
  * regression was exactly an undeclared probe-side broadcast flipping to
  * a corpus-shuffling SortMergeJoin once stats grew. Asserting under -1
  * pins every declared hint and every no-shuffle/no-cartesian contract
  * against ANY stats, which is what "would this plan survive sf1" means
  * for a local[32] audit that cannot afford to re-plan 100 TB. */
object PlanContracts {

  /** `full` = the whole AdaptiveSparkPlan toString (final + initial
    * sections: expression-level lines like codegen stage markers only
    * print fully there, since the final section abbreviates materialized
    * query stages); `finalSection` = the text before "== Initial Plan =="
    * (exact node COUNTS must read only this, or every exchange
    * double-counts). */
  final case class PlanText(full: String, finalSection: String)

  final case class Contract(desc: String, check: PlanText => Boolean)

  /** The named native expression must evaluate inside a whole-stage
    * codegen stage (its plan line carries the `*(` stage marker). */
  def codegen(fn: String): Contract = Contract(
    s"`$fn` evaluates inside whole-stage codegen",
    p => p.full.linesIterator.exists(l => l.contains(fn) && l.contains("*(")))

  val noCartesian: Contract = Contract(
    "no CartesianProduct anywhere in the plan",
    p => !p.full.contains("CartesianProduct"))

  def absent(frag: String, why: String): Contract =
    Contract(why, p => !p.full.contains(frag))

  def present(frag: String, why: String): Contract =
    Contract(why, p => p.full.contains(frag))

  /** Exactly `n` declared broadcasts survive with auto-broadcast off
    * (counted in the FINAL plan section only). */
  def broadcasts(n: Int, why: String): Contract = Contract(
    why, p => "BroadcastExchange".r.findAllIn(p.finalSection).length == n)

  /** The audited entries: the 10 heaviest BATCH entries by pooled sf0.1
    * minima (BENCH_sf1 round 6) plus the declared-broadcast quantizer
    * pair and the round-7 additions that carry new plan shapes
    * (dd_semantic_hier's two-level joins; the curation family's
    * broadcast-keep / TakeOrdered / projection-pruning contracts). The 5
    * streaming entries in the top 15 (st_late_data, st_session_window,
    * st_recovery, st_interval_join, st_update_mode) are out of scope
    * here: their per-trigger micro-batch plans are not capturable from
    * `queries()`; their scale contracts (watermark bounds, state-store
    * shape, no-data-batch policy) live in StreamingSpec. */
  val audited: Seq[(String, Seq[Contract])] = Seq(
    "dd_pipeline" -> Seq(
      noCartesian,
      codegen("minhash_sig"), codegen("char_shingles"), codegen("sig_agree"),
      absent("windowspecdefinition(doc_id",
        "no per-doc window materialization (pairs come from banding, not ranking)")),
    "dd_ngram_jaccard" -> Seq(
      noCartesian,
      codegen("minhash_sig"), codegen("sig_agree"), codegen("jaccard_sim")),
    "mm_phash" -> Seq(
      noCartesian,
      codegen("bit_count"),
      present("bit_count",
        "popcount hamming verify is evaluated inline on the band-collided stream")),
    "dd_cluster" -> Seq(noCartesian),
    // dd_lsh_funnel's entry returns a one-row literal (counts run eagerly
    // so the blowup-prone candidate cache can be released mid-entry); the
    // audit reads the LAZY chain via the override below, pinning the real
    // banding → prefilter → verify composition the counts execute.
    "dd_lsh_funnel (chain plan)" -> Seq(
      noCartesian,
      codegen("minhash_sig"), codegen("sig_agree"), codegen("jaccard_sim")),
    "mm_phash_cluster" -> Seq(noCartesian),
    "ta_tfidf" -> Seq(
      noCartesian,
      present("partial_", "term aggregation is partial (map-side) before the shuffle")),
    "q_join_star" -> Seq(
      noCartesian,
      broadcasts(3,
        "exactly the 3 DECLARED dimension broadcasts (supplier/nation/region) " +
          "survive big stats; the customer⋈orders⋈lineitem fact joins must NOT " +
          "broadcast at scale"),
      present("SortMergeJoin", "fact⋈fact joins shuffle on their keys")),
    "dd_chunk_dedup" -> Seq(
      noCartesian, codegen("cdc_chunks"),
      present("partial_", "chunk-hash counts partial-aggregate before the shuffle")),
    "q_approx_distinct" -> Seq(
      noCartesian,
      present("partial_kmv_sketch",
        "the KMV sketch is a partial aggregate — k-sized summaries shuffle, not rows " +
          "(ObjectHashAggregate: typed aggregates don't codegen, the sketch buffer does the work)")),
    "q_agg_stats" -> Seq(
      noCartesian,
      present("partial_", "all stats aggregate map-side first")),
    "dd_semantic" -> Seq(
      noCartesian,
      codegen("argmin_l2"),
      absent("windowspecdefinition(vec_id",
        "cluster assignment must not materialize an N×K window per vec_id"),
      broadcasts(1, "exactly one BroadcastExchange: the corpus-scaled codebook row")),
    "dd_semantic_hier" -> Seq(
      noCartesian,
      codegen("argmin_l2"),
      absent("windowspecdefinition(vec_id",
        "neither assignment level windows per vec_id"),
      Contract(
        "fine-codebook join on coarse_id is a PARTITIONED join (SMJ/SHJ), " +
          "never broadcast — a fine-codebook broadcast dies at scale; only the " +
          "one-row coarse codebook broadcasts (its exchange may appear per subtree)",
        p => {
          val part = """(SortMergeJoin|ShuffledHashJoin) \[coarse_id#\d+L?\], \[coarse_id#\d+L?\]""".r
          val bcast = """BroadcastHashJoin \[coarse_id#\d+L?\], \[coarse_id#\d+L?\]""".r
          part.findFirstIn(p.full).isDefined && bcast.findFirstIn(p.full).isEmpty
        })),
    "ann_ivf" -> Seq(
      noCartesian, codegen("argmin_l2"),
      present("BuildLeft",
        "probe→index cell join keeps the DECLARED probe-side broadcast"),
      absent("windowspecdefinition(vec_id",
        "cell assignment must not window per vec_id")),
    "ann_ivf_pq" -> Seq(
      noCartesian, codegen("adc_dist"),
      present("BuildLeft",
        "probe→index cell join keeps the DECLARED probe-side broadcast")),
    "ann_lsh" -> Seq(
      noCartesian, codegen("lsh_sigs")),
    "emb_recall_eval" -> Seq(
      noCartesian,
      present("BuildLeft",
        "the IVF side keeps its DECLARED probe-side broadcast inside the " +
          "evaluation join"),
      absent("windowspecdefinition(vec_id",
        "no per-vector window anywhere: both chains rank per QUERY only")),
    "dd_rep_rank" -> Seq(
      noCartesian,
      Contract(
        "the node-count row joins each round as a DECLARED one-row " +
          "broadcast (BroadcastNestedLoopJoin)",
        p => p.full.contains("BroadcastNestedLoopJoin")),
      present("Scan ExistingRDD",
        "component labels join in as the min-label propagation snapshot"),
      Contract(
        "the FIXED 3-round rank recursion keeps the exchange count " +
          "bounded by a constant (<= 16 hash exchanges; the working set " +
          "is the duplication-proportional pair graph)",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 16)),
    "ta_sample_stratified" -> Seq(
      noCartesian,
      broadcasts(1,
        "the per-source count row set is the DECLARED broadcast side of " +
          "the quota join"),
      absent("text:string",
        "column pruning reaches the scan: the corpus text never loads " +
          "for a (doc_id, source) sample"),
      Contract(
        "one window shuffle on source plus the count aggregation — at " +
          "most 3 hash exchanges",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 3)),
    "dd_canonical" -> Seq(
      noCartesian,
      Contract(
        "the per-cluster keep-id table joins back as a DECLARED broadcast " +
          "(one row per cluster — broadcast-sized at any corpus scale; the " +
          "corpus-wide side must not shuffle for it)",
        p => """BroadcastHashJoin \[cluster_id#\d+L?\]""".r
          .findFirstIn(p.full).isDefined)),
    "ta_bm25" -> Seq(
      noCartesian,
      present("partial_", "per-doc tf/dlen aggregation is map-side partial"),
      present("TakeOrderedAndProject",
        "top-10 is a distributed TakeOrdered, not a global sort"),
      Contract(
        "the single corpus-stats row joins via BroadcastNestedLoopJoin " +
          "(declared broadcast; one row, any scale)",
        p => p.full.contains("BroadcastNestedLoopJoin"))),
    "ta_split" -> Seq(
      noCartesian,
      absent("Exchange",
        "pure per-row projection: no shuffle at any scale"),
      Contract(
        "the parquet scan prunes to doc_id+source (text, the wide column, " +
          "is never read)",
        p => p.full.linesIterator.exists(l =>
          l.contains("ReadSchema") && !l.contains("text")))),
    "ta_source_stats" -> Seq(
      noCartesian,
      present("partial_",
        "per-source stats partial-aggregate map-side; ~n_sources rows shuffle")),
    "dd_split_leak" -> Seq(noCartesian),
    "dd_soft" -> Seq(
      noCartesian,
      Contract(
        "exactly ONE keyed shuffle (the window over the content hash) — " +
          "no groupBy + re-join double exchange",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length == 1)),
    "q_funnel" -> Seq(
      noCartesian,
      present("partial_", "per-user stage minima partial-aggregate map-side"),
      Contract(
        "every keyed shuffle is on user_id (the stage chain re-uses one " +
          "partitioning; no shuffle on any other key)",
        p => """Exchange hashpartitioning\((?!user_id#)""".r
          .findFirstIn(p.finalSection).isEmpty)),
    "emb_quantize" -> Seq(
      noCartesian,
      absent("Exchange hashpartitioning",
        "pure map-only projection: no keyed shuffle at any scale"),
      Contract(
        "the parquet scan prunes to vec_id+embedding (label is never read)",
        p => p.full.linesIterator.exists(l =>
          l.contains("ReadSchema") && !l.contains("label")))),
    "ann_kmeans_refine" -> Seq(
      noCartesian,
      codegen("argmin_l2"),
      absent("windowspecdefinition(vec_id",
        "cell assignment must not materialize an N×K window per vec_id"),
      broadcasts(2,
        "exactly the two DECLARED broadcasts survive big stats: the one-row " +
          "centroid-array codebook and the K-row old-centroid table for shift2")),
    "dd_containment" -> Seq(
      noCartesian,
      present("partial_",
        "gram document-frequency counts partial-aggregate before the shuffle")),
    "ta_winnow" -> Seq(
      noCartesian,
      codegen("winnow_stats"),
      absent("Exchange hashpartitioning",
        "pure per-row projection: no keyed shuffle (only the single-file " +
          "split-widening round-robin)")),
    "ta_gopher_rules" -> Seq(
      noCartesian,
      absent("Exchange",
        "pure per-row projection: the rule pass fuses into the scan — no " +
          "shuffle at any scale"),
      Contract(
        "the parquet scan prunes to doc_id+text (source/lang/n_chars are " +
          "never read)",
        p => p.full.linesIterator.exists(l =>
          l.contains("ReadSchema") && !l.contains("lang")))),
    "ta_quality_prune" -> Seq(
      noCartesian,
      Contract(
        "exactly ONE keyed shuffle (the per-source percent_rank window); " +
          "scoring is map-only before it",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length == 1),
      Contract(
        "every keyed shuffle is on source",
        p => """Exchange hashpartitioning\((?!source#)""".r
          .findFirstIn(p.finalSection).isEmpty)),
    "q_gaps_islands" -> Seq(
      noCartesian,
      Contract(
        "exactly ONE keyed shuffle: the (event_type, grp) groupBy reuses " +
          "the window's event_type partitioning (subset-key reuse) instead " +
          "of re-exchanging",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length == 1),
      Contract(
        "the parquet scan prunes to event_id+event_type (ts/user_id/value/" +
          "props are never read)",
        p => p.full.linesIterator.exists(l =>
          l.contains("ReadSchema") && !l.contains("props")))),
    "dd_edit_verify" -> Seq(
      noCartesian,
      codegen("sig_agree"),
      Contract(
        "the bounded-distance verify runs over banded candidates only — " +
          "no window over doc_id, no pairwise expansion",
        p => !p.full.contains("windowspecdefinition(doc_id"))),
    "ta_dsir" -> Seq(
      noCartesian,
      Contract(
        "both 64-bucket feature distributions join the corpus as DECLARED " +
          "one-row broadcasts (BroadcastNestedLoopJoin); scoring is map-only",
        p => "BroadcastNestedLoopJoin".r.findAllIn(p.finalSection).length == 2),
      present("partial_",
        "bucket histograms partial-aggregate map-side (64 keys cross the " +
          "shuffle, not the gram stream)")),
    "emb_pca_power" -> Seq(
      noCartesian,
      present("partial_",
        "the per-dim DECIMAL sum partial-aggregates map-side — 64 rows per " +
          "task cross the one shuffle"),
      absent("SortMergeJoin", "no join anywhere: quantize + fold + one agg")),
    "dd_decontaminate" -> Seq(
      noCartesian,
      codegen("char_shingles"),
      Contract(
        "the benchmark gram set rides a DECLARED broadcast and the corpus " +
          "gram stream passes a map-side semi-join (BroadcastHashJoin " +
          "LeftSemi) — corpus text never shuffles (the hit-count join " +
          "back moves only hit-proportional (doc_id, n_hits) rows); " +
          "measured 3.3× faster at sf10 than the in-expression " +
          "binary-search variant (§5)",
        p => p.full.contains("BroadcastHashJoin") &&
          p.full.contains("LeftSemi"))),
    // the default-on TopKRewrite pair: the SAME window DataFrame form,
    // audited on the standard session (rule on → bounded heap) and on
    // the explicit-flag baseline sub-session (rule off → window sort)
    "q_topk_auto" -> Seq(
      noCartesian,
      Contract(
        "the row_number window form REWRITES to the two-phase bounded-heap " +
          "operator on the standard session (partial+final TopKPerGroup; " +
          "k rows per group per partition cross the shuffle, not sorted " +
          "partitions)",
        p => "TopKPerGroup".r.findAllIn(p.finalSection).length >= 2),
      absent("windowspecdefinition",
        "no window sort survives: the rewrite removed the Window node " +
          "entirely")),
    "q_topk_per_group" -> Seq(
      noCartesian,
      present("windowspecdefinition(o_orderpriority",
        "the measured window BASELINE keeps its per-partition sort plan " +
          "(spark.graft.topk.rewrite=false on its sub-session)"),
      absent("TopKPerGroup",
        "the explicit off-switch holds: no bounded-heap operator here")),
    "ann_nndescent" -> Seq(
      noCartesian,
      codegen("dot_product"),
      Contract(
        "the per-key top-4 applies a PARTIAL group limit before its " +
          "shuffle — at most k edges per key cross the exchange, not the " +
          "full candidate set (WindowGroupLimit in a plain session; " +
          "partial+final TopKPerGroup when the TopKRewrite extension is on)",
        p => p.full.contains("WindowGroupLimit") ||
          "TopKPerGroup".r.findAllIn(p.finalSection).length >= 2)),
    // audited via the UNCUT chain (auditOverrides): the entry itself
    // returns a scan over per-iteration snapshots (lineage cuts), so the
    // iteration plan shape is only visible on the uncut composition
    "ta_bpe_learn" -> Seq(
      noCartesian,
      present("TakeOrderedAndProject",
        "the argmax merge pair is a distributed TakeOrdered(1), never a " +
          "global sort"),
      Contract(
        "each learned merge rejoins the vocabulary as a DECLARED one-row " +
          "broadcast (BroadcastNestedLoopJoin)",
        p => p.full.contains("BroadcastNestedLoopJoin"))),
    // the ENTRY'S OWN returned plan (not the uncut audit chain): pins that
    // the lineage cut is actually ACTIVE — the entry reads the merge table
    // from a per-round snapshot, and none of the learning chain's
    // signature operators (argmax TakeOrdered, one-row merge rejoin)
    // appear. If a cut-flag regression re-enabled lazy composition, the
    // uncut-chain contracts above would still pass while the 2^iters plan
    // blowup returned — THIS row is what would catch it.
    "ta_bpe_learn (entry plan)" -> Seq(
      noCartesian,
      present("Scan ExistingRDD",
        "the returned merge table is a SNAPSHOT scan (the lineage-cut " +
          "artifact), not the live iterated chain"),
      absent("TakeOrderedAndProject",
        "no learning-chain argmax in the returned plan — the per-round " +
          "cuts are active, so plan depth stays O(1) per read"),
      absent("BroadcastNestedLoopJoin",
        "no iterated one-row merge rejoin in the returned plan — lazy " +
          "composition (the 2^iters blowup) is not back")),
    "ta_bpe_apply" -> Seq(
      noCartesian,
      present("Scan ExistingRDD",
        "the learned vocabulary joins in as a STANDING SNAPSHOT (the " +
          "lineage-cut artifact) — the encode plan never re-learns"),
      absent("TakeOrderedAndProject",
        "no learning-chain argmax inside the encode plan: training cost " +
          "must not recur per encode pass"),
      present("partial_",
        "the per-doc char/token sums partial-aggregate map-side")),
    "q_retention" -> Seq(
      noCartesian,
      present("partial_",
        "distinct-user counting partial-aggregates map-side before the " +
          "(cohort, offset) shuffle"),
      Contract(
        "no self-join: the cohort comes from a window min over user_id " +
          "(one corpus shuffle), not a groupBy+join back",
        p => !p.finalSection.contains("SortMergeJoin") &&
          !p.finalSection.contains("ShuffledHashJoin"))),
    "dd_span_scrub" -> Seq(
      noCartesian,
      absent("windowspecdefinition(doc_id",
        "occurrence windows partition by the span hash, never per doc — a " +
          "per-doc window would serialize each doc's whole span stream"),
      Contract(
        "the occurrence ranking costs exactly ONE span-hash exchange " +
          "(rn >= 2 alone identifies removable occurrences — no second " +
          "count-over-partition window)",
        p => """Exchange hashpartitioning\(sp#""".r
          .findAllIn(p.finalSection).length == 1),
      Contract(
        "reassembly is DUPLICATION-proportional: the corpus token array is " +
          "never exploded (the only posexplode is the span shingle; kept " +
          "tokens are picked by expression from the per-doc removal set) " +
          "and there is no per-doc regroup of exploded tokens",
        p => "posexplode".r.findAllIn(p.finalSection).length == 1
          && !p.finalSection.contains("collect_list(struct(p")),
      Contract(
        "corpus shuffles bounded: ≤ 5 hash exchanges end-to-end (span " +
          "window, per-doc removal-set agg, removal join)",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 5)),
    "ta_pipeline_scrub" -> Seq(
      noCartesian,
      Contract(
        "corpus TEXT never crosses a shuffle in any of the three rewriting " +
          "stages: every Generate in the final plan is a hashed-key " +
          "posexplode (4-word segment md5s, word-8-gram span md5s; the " +
          "segment explode prints twice — freq + semi-join branches) or a " +
          "removal-sequence explode — never a Generate of raw tokens, and " +
          "no per-doc regroup of exploded text",
        p => "posexplode".r.findAllIn(p.finalSection).length <= 4
          && !p.full.contains("Generate posexplode(toks")
          && !p.full.contains("Generate explode(toks")
          && !p.full.contains("collect_list(struct(p")
          && !p.full.contains("collect_list(struct(pos")),
      Contract(
        "the line-deduped intermediate corpus is materialized ONCE " +
          "(persisted partition-local) and both span-stage branches read " +
          "the cached copy, not a recomputed lineage",
        p => p.full.contains("InMemoryTableScan")),
      Contract(
        "corpus-wide keyed shuffles are BOUNDED: the 3-stage rewrite moves " +
          "the corpus through at most 8 hash exchanges in the final plan " +
          "(segment freq + semi-join + removal agg + removal join; span " +
          "window + removal agg + removal join)",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 8)),
    "ta_pipeline_curate" -> Seq(
      noCartesian,
      codegen("char_shingles"),
      Contract(
        "both DSIR feature distributions join as DECLARED one-row broadcasts " +
          "(BroadcastNestedLoopJoin, as in standalone ta_dsir; AQE folds them " +
          "into materialized stages, so they print only in the full dump)",
        p => "BroadcastNestedLoopJoin".r.findAllIn(p.full).length >= 2),
      Contract(
        "the per-source mixing-weight table joins as a DECLARED broadcast " +
          "hash join; the dedup id-joins (keep set, pair-index anti join) " +
          "must NOT broadcast at scale — they stay partitioned (SMJ)",
        p => p.finalSection.contains("BroadcastHashJoin")
          && p.finalSection.contains("SortMergeJoin")),
      Contract(
        "corpus-wide keyed shuffles are BOUNDED: the whole 8-stage pipeline " +
          "moves the corpus through at most 12 hash exchanges in the final " +
          "plan (manifest window on source, dedup id-joins, containment " +
          "groupBy, DSIR gram histograms, packing window, survivor-count " +
          "agg; 10 at sf0.001) — a per-stage corpus re-read would multiply this",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 12)),
    "ta_pipeline_full" -> Seq(
      noCartesian,
      Contract(
        "the scrubbed clean corpus — the ONE corpus-sized intermediate — " +
          "is materialized partition-local exactly once and every " +
          "selection-side consumer (gate metrics, exact-dedup hash, " +
          "decontamination shingles, bench set, accounting join) reads " +
          "the cache: ≥ 4 InMemoryTableScans in the final plan (the " +
          "consumers; cached-build internals print inside the relation, " +
          "so literal-absence checks can't apply — the ≤20-exchange " +
          "bound below is what catches a dropped persist, since a 5× " +
          "scrub re-run multiplies the rewrite exchanges)",
        p => "InMemoryTableScan".r.findAllIn(p.finalSection).length >= 4),
      Contract(
        "the rewriting stages keep their own contract under composition: " +
          "every Generate is a hashed-key or removal-sequence explode — " +
          "never raw tokens — and no per-doc regroup of exploded text",
        p => !p.full.contains("Generate posexplode(toks")
          && !p.full.contains("Generate explode(toks")
          && !p.full.contains("collect_list(struct(p")
          && !p.full.contains("collect_list(struct(pos")),
      Contract(
        "both DSIR feature distributions join as DECLARED one-row " +
          "broadcasts (as in standalone ta_dsir)",
        p => "BroadcastNestedLoopJoin".r.findAllIn(p.full).length >= 2),
      Contract(
        "corpus-wide keyed shuffles are BOUNDED under composition: " +
          "rewrite (≤8) + selection (≤12) move data through at most 20 " +
          "hash exchanges in the final plan — chaining the stacks must " +
          "not multiply corpus passes",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 20)),
    "ta_quality_classifier" -> Seq(
      noCartesian,
      // (no codegen(md5_buckets) pin: the expression evaluates inside the
      // shared feature-store CACHE BUILD — columnar cache materialization
      // sits outside whole-stage codegen by design; the expression's own
      // codegen is pinned via ta_dsir/PropertySpec)
      Contract(
        "the weight vector joins the corpus as a DECLARED one-row broadcast " +
          "(BroadcastNestedLoopJoin — survives big stats)",
        p => p.full.contains("BroadcastNestedLoopJoin")),
      Contract(
        "the corpus side is MAP-ONLY: every hash exchange in the plan " +
          "belongs to the bounded labeled-slice histograms (explode of the " +
          "fixed-size slice + two 64-row aggs), never to the scoring pass — " +
          "≤ 2 hash exchanges total and no corpus-keyed shuffle",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 2)),
    "emb_centroid_gate" -> Seq(
      noCartesian,
      Contract(
        "the one-row centroid joins the corpus via BroadcastNestedLoopJoin " +
          "(declared broadcast; one row at any scale)",
        p => p.full.contains("BroadcastNestedLoopJoin")),
      absent("Exchange hashpartitioning",
        "no keyed shuffle anywhere: the corpus side is a map-only " +
          "cosine+threshold pass (the 8-row probe agg is a SinglePartition " +
          "exchange, not a corpus shuffle)")),
    "mm_pipeline_curate" -> Seq(
      noCartesian,
      Contract(
        "variant-gen + feature decode run in ONE partition-batched pass " +
          "over the gated scan — a single MapPartitions in the final plan; " +
          "payload bytes are consumed map-side and never cross a shuffle " +
          "(only the slim 12-column feature manifest moves)",
        p => "MapPartitions".r.findAllIn(p.finalSection).length == 1),
      Contract(
        "the metadata gate is FUSED INTO the parquet scan " +
          "(prune-before-decode: ungated media never reach the decoder)",
        p => p.full.linesIterator.exists(l =>
          l.contains("DataFilters") && l.contains("lang")
            && l.contains("n_chars"))),
      Contract(
        "dedup drop/meta sets join id-vs-id as PARTITIONED joins (SMJ) — " +
          "they are duplication-proportional manifests, never a corpus " +
          "broadcast at scale",
        p => p.finalSection.contains("SortMergeJoin")),
      Contract(
        "corpus-keyed shuffles are BOUNDED: the whole capstone moves the " +
          "manifest through at most 10 hash exchanges in the final plan " +
          "(anti/meta id-joins + the per-source shard window + the " +
          "cluster-derivation aggregations)",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 10)),
    "mm_pipeline_full" -> Seq(
      noCartesian,
      Contract(
        "prune-before-decode END TO END: the single MapPartitions decode " +
          "sits ABOVE the gate's anti-join in the executed plan — only " +
          "surviving pairs are decoded; a dropped re-encode or " +
          "junk-caption pair never reaches the decoder (at 100 TB this " +
          "ordering is the pipeline's dominant cost term)",
        p => {
          val mp = p.finalSection.indexOf("MapPartitions")
          val anti = p.finalSection.indexOf("LeftAnti")
          mp >= 0 && anti >= 0 && mp < anti
        }),
      Contract(
        "decode is ONE partition-batched pass (a single MapPartitions in " +
          "the final plan); the variant payload regenerates map-side from " +
          "the caption text, so payload bytes never cross a shuffle",
        p => "MapPartitions".r.findAllIn(p.finalSection).length == 1)),
    "q_concurrency" -> Seq(
      noCartesian,
      Contract(
        "corpus rows cross ONE keyed shuffle: the per-type-max consumer " +
          "REUSES the (type, day) window exchange (a ReusedExchange of a " +
          "hashpartitioning exchange in the final plan) instead of " +
          "re-shuffling the delta stream",
        p => """ReusedExchange \[[^\]]*\], Exchange hashpartitioning""".r
          .findFirstIn(p.finalSection).isDefined),
      Contract(
        "exactly TWO FileScans, by design: the window pass and the " +
          "day-net pass (a 2-column projected re-read whose partial " +
          "aggregate runs map-side — its exchange carries only " +
          "|types|×|days| pre-aggregated rows, never corpus deltas; the " +
          "alternatives re-shuffle the corpus or persist corpus×2 rows)",
        p => "FileScan".r.findAllIn(p.finalSection).length == 2),
      Contract(
        "the day-carry prefix table and the per-type max join as exactly " +
          "TWO DECLARED broadcasts (|types|×|days| and |types| rows at " +
          "any corpus size; counted as node lines in the final section, " +
          "which excludes the reuse annotation)",
        p => """\+- BroadcastExchange""".r.findAllIn(p.finalSection).length == 2),
      Contract(
        "exchanges bounded: ≤ 6 hash-exchange mentions in the final plan " +
          "(the corpus (type, day) exchange, its reuse annotation, and " +
          "the day-/type-/report-level aggregate exchanges)",
        p => "Exchange hashpartitioning".r.findAllIn(p.finalSection).length <= 6)),
    "dq_checks" -> Seq(
      noCartesian,
      absent("Expand",
        "no multi-distinct Expand — every non-referential rule folds per " +
          "key inside the groupBy the uniqueness rule needs anyway"),
      Contract(
        "exactly THREE FileScans, by design: orders twice (the fused " +
          "per-key rules pass and the referential probe side) plus the " +
          "customer key side — adding the four row-level rules cost ZERO " +
          "extra scans over what uniqueness + referential alone need",
        p => "FileScan".r.findAllIn(p.finalSection).length == 3),
      Contract(
        "referential integrity is a PARTITIONED anti-join (LeftAnti with " +
          "no declared broadcast): at corpus scale the customer key side " +
          "is itself corpus-sized and must never broadcast",
        p => p.finalSection.contains("LeftAnti") &&
          !p.finalSection.contains("BroadcastExchange"))),
    "dq_profile" -> Seq(
      noCartesian,
      absent("Expand",
        "distinct counts, null counts and min/max ALL fold from the same " +
          "(col_name, value) level-1 partials — no distinct-aggregate " +
          "Expand multiplying the corpus stream per aggregate"),
      Contract(
        "ONE FileScan: the corpus is read exactly once; the long pivot " +
          "is a map-side Generate and both aggregation levels ride its " +
          "output",
        p => "FileScan".r.findAllIn(p.finalSection).length == 1),
      present("Generate explode",
        "the (col_name, value) long pivot is a Generate evaluated " +
          "map-side, upstream of the level-1 combine")),
    "dq_drift" -> Seq(
      noCartesian,
      Contract(
        "orders is scanned exactly ONCE: the fixed-bucket counts " +
          "aggregate into an ~11-row cache (InMemoryTableScan) that every " +
          "downstream normalizer reads",
        p => p.finalSection.contains("InMemoryTableScan")),
      Contract(
        "the totals and TVD normalizers are one-row DECLARED broadcasts " +
          "(BroadcastNestedLoopJoin over single-row aggregates — never a " +
          "shuffle): checked on the FULL plan text because the nested " +
          "cached-relation plan embeds its own Initial-Plan marker, which " +
          "truncates the final-section split before the outer joins",
        p => p.full.contains("BroadcastNestedLoopJoin") &&
          p.full.contains("BroadcastExchange") &&
          !p.full.contains("SortMergeJoin"))),
    "dq_anomaly" -> Seq(
      noCartesian,
      absent("Expand", "no multi-distinct Expand"),
      Contract(
        "ONE FileScan and NO cache: the bucket aggregate has exactly one " +
          "consumer (anomalyFlag's window tail), so the corpus is read " +
          "once and nothing is persisted — a persist here would be a " +
          "pure materialization tax",
        p => "FileScan".r.findAllIn(p.finalSection).length == 1 &&
          !p.full.contains("InMemoryTableScan")),
      Contract(
        "the per-type totals are a PARTITIONED window over the " +
          "buckets (partitionBy event_type — shared anomalyFlag tail " +
          "with st_anomaly): a Window node keyed by event_type, never " +
          "an unpartitioned window and never any join back to the corpus",
        p => p.full.contains("Window") &&
          p.full.contains("windowspecdefinition(event_type") &&
          !p.full.contains("SortMergeJoin") && !p.full.contains("Join"))),
    "dq_freshness" -> Seq(
      noCartesian,
      Contract(
        "ONE corpus scan: the |types|-row watermark table caches " +
          "(InMemoryTableScan) and the global fold + lag projection " +
          "both read it (FULL-text check, the dq_drift note)",
        p => p.full.contains("InMemoryTableScan")),
      Contract(
        "the global watermark is a one-row DECLARED broadcast " +
          "(BroadcastNestedLoopJoin over a single-row aggregate)",
        p => p.full.contains("BroadcastNestedLoopJoin") &&
          p.full.contains("BroadcastExchange") &&
          !p.full.contains("SortMergeJoin"))),
    "er_blocked_match" -> Seq(
      noCartesian,
      Contract(
        "ONE corpus scan: the vocabulary-bounded dictionary caches " +
          "(InMemoryTableScan) and every consumer — both token sides " +
          "and both frequency joins — reads the cache (FULL-text " +
          "check, the dq_drift note)",
        p => p.full.contains("InMemoryTableScan")),
      present("Generate explode",
        "token blocking is a map-side Generate over the cached " +
          "dictionary, never over corpus rows"),
      Contract(
        "candidate generation + verify is ONE dictionary-scale " +
          "BroadcastHashJoin with the levenshtein verify FUSED into " +
          "the join condition (no separate all-pairs stage), and no " +
          "join in the entry falls back to SortMergeJoin",
        p => p.full.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("levenshtein")) &&
          !p.full.contains("SortMergeJoin"))),
    "q_quantile_sketch" -> Seq(
      noCartesian,
      Contract(
        "the KMV sample rides the custom bounded-heap operator (partial+" +
          "final TopKPerGroup — ≤256 rows per group per partition cross " +
          "the shuffle, never a window full-sort of the corpus on the " +
          "sketch path)",
        p => "TopKPerGroup".r.findAllIn(p.full).length >= 2),
      Contract(
        "ONE corpus scan: the slim (grp, v, id, hk) projection caches " +
          "(InMemoryTableScan) and both the sketch and the exact-eval " +
          "side read the cache (FULL-text check, the dq_drift note — " +
          "the nested cached-relation plan truncates the final-section " +
          "split)",
        p => p.full.contains("InMemoryTableScan")),
      Contract(
        "every window is PARTITIONED by grp (the exact-eval harness " +
          "ranks within groups; nothing unpartitioned)",
        p => p.full.contains("windowspecdefinition(grp"))),
    "q_snapshot_diff" -> Seq(
      noCartesian,
      Contract(
        "the diff is ONE PK-partitioned FULL-OUTER equi-join — both " +
          "snapshot sides are corpus-sized, so neither may broadcast " +
          "(and nothing falls back to a nested loop)",
        p => p.full.linesIterator.exists(l =>
          l.contains("SortMergeJoin") && l.contains("FullOuter")) &&
          !p.full.contains("BroadcastNestedLoopJoin")),
      broadcasts(0, "no declared broadcast anywhere: every side of the " +
        "diff scales with the corpus"),
      Contract(
        "ONE corpus scan: the slim (k, price_c, status) projection " +
          "caches (InMemoryTableScan) and both snapshot sides — A, B's " +
          "churn leg and B's adds leg — read the cache",
        p => p.full.contains("InMemoryTableScan"))),
    "q_skyline" -> Seq(
      noCartesian,
      broadcasts(1, "the frontier join-back is the ONLY broadcast — its " +
        "build side is bounded by the date DOMAIN (level-2 output), " +
        "never corpus rows"),
      Contract(
        "the frontier sweep's unpartitioned window runs on a deliberate " +
          "SinglePartition of the DISTINCT-date aggregate (≤ |dates| " +
          "rows at any corpus size) — the corpus itself never enters a " +
          "single partition",
        p => p.finalSection.contains("SinglePartition"))),
    "dq_outlier" -> Seq(
      noCartesian,
      absent("Expand", "no multi-distinct Expand — medians fold from " +
        "plain (type, value)/(type, dev) count tables"),
      Contract(
        "every join carries a |types|-row side and is a DECLARED " +
          "broadcast hash join (≥ 3 BroadcastExchange survive with " +
          "stats off; AQE may reuse one) — nothing falls back to " +
          "SortMergeJoin",
        p => "BroadcastExchange".r.findAllIn(p.full).length >= 3 &&
          !p.full.contains("SortMergeJoin")),
      Contract(
        "ONE corpus scan: the (type, value) count table caches " +
          "(InMemoryTableScan) and the median, deviation and outlier " +
          "folds all read distinct-value-proportional caches",
        p => p.full.contains("InMemoryTableScan")),
      Contract(
        "every median window is PARTITIONED by event_type over a " +
          "distinct-value table (nothing unpartitioned, nothing " +
          "corpus-sized)",
        p => p.full.contains("windowspecdefinition(event_type"))),
    "dq_referential" -> Seq(
      noCartesian,
      absent("Expand", "no multi-distinct Expand — the per-relationship " +
        "orphan counts are conditional sums folding in one aggregate"),
      Contract(
        "exactly FOUR FileScans: the fact table ONCE (the 100 TB design " +
          "point — one lineitem pass probes all three FKs through " +
          "chained key joins on a slim 3-key projection) plus the three " +
          "column-pruned parent key sides",
        p => "FileScan".r.findAllIn(p.finalSection).length == 4),
      Contract(
        "every probe is an equi-join (hash-partitioned or broadcast by " +
          "stats — dimensions may be corpus-sized, so nothing is " +
          "DECLARED broadcast): no nested-loop join anywhere",
        p => !p.full.contains("BroadcastNestedLoopJoin"))),
    "er_cluster" -> Seq(
      noCartesian,
      Contract(
        "ONE corpus scan: the dictionary caches (InMemoryTableScan) and " +
          "both the match stage and the entity fold read the cache",
        p => p.full.contains("InMemoryTableScan")),
      Contract(
        "the canonical-name policy is a window PARTITIONED by entity_id " +
          "(never unpartitioned)",
        p => p.full.contains("windowspecdefinition(entity_id"))),
    "er_multi_block" -> Seq(
      noCartesian,
      Contract(
        "ONE corpus scan: the dictionary caches (InMemoryTableScan) and " +
          "all three blocking passes read the cache",
        p => p.full.contains("InMemoryTableScan")),
      Contract(
        "every blocking pass is a dictionary-scale BroadcastHashJoin — " +
          "candidates never shuffle (no SortMergeJoin anywhere)",
        p => p.full.contains("BroadcastHashJoin") &&
          !p.full.contains("SortMergeJoin"))),
    "er_survivor" -> Seq(
      noCartesian,
      absent("Expand",
        "the distinct-brand census folds from (name, brand) level-1 " +
          "partials — no multi-distinct Expand multiplying the corpus " +
          "stream"),
      Contract(
        "ONE FileScan: the golden record is a pure two-level aggregate " +
          "over a single corpus pass",
        p => "FileScan".r.findAllIn(p.finalSection).length == 1),
      Contract(
        "exchanges bounded: ≤ 2 hash exchanges (the (name, brand) " +
          "level-1 shuffle and the per-name fold)",
        p => "Exchange hashpartitioning".r
          .findAllIn(p.finalSection).length <= 2)),
    "q_pagerank" -> Seq(
      noCartesian,
      Contract(
        "the edge table (with out-degree attached) builds ONCE and " +
          "every iteration reads the cache (InMemoryTableScan) — the " +
          "corpus join that derives it never re-runs inside the loop",
        p => p.full.contains("InMemoryTableScan")),
      broadcasts(0, "nothing broadcasts: every side of every iteration " +
        "scales with the graph (edges, degrees, ranks)"),
      Contract(
        "no nested-loop fallback anywhere in the 5-iteration chain",
        p => !p.full.contains("BroadcastNestedLoopJoin"))),
    "q_triangles" -> Seq(
      noCartesian,
      Contract(
        "the ORIENTED edge set persists once (InMemoryTableScan) and " +
          "the triangle count's two self-joins read the cache — the " +
          "pair build and degree orientation never re-run per join leg",
        p => p.full.contains("InMemoryTableScan")),
      broadcasts(0, "zero broadcasts: every graph-scale join (pair " +
        "build, okey attach, triangle legs) shuffles on its keys, and " +
        "the triangle/wedge scalars fold in ONE union-aggregate — no " +
        "scalar-combine join exists to broadcast"),
      Contract(
        "no nested-loop fallback anywhere (the union-aggregate combine " +
          "leaves nothing for a constant-key join to degenerate into)",
        p => !p.full.contains("BroadcastNestedLoopJoin"))))

  /** Entries whose query plan is a scan over materialized snapshots
    * (iterative chains with per-round lineage cuts): the audit reads the
    * UNCUT composition — the same code path with cuts disabled — so the
    * per-iteration plan shape stays pinned even though the entry's own
    * returned plan is just the snapshot scan. */
  private val auditOverrides
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "ta_bpe_learn" -> ((s, d) => operators.Curation2.bpeChainUncutForAudit(s, d)),
      // the complementary row: audit the entry's REAL returned plan under
      // a name that maps back to it (the entry name itself is taken by
      // the uncut-chain audit above)
      "ta_bpe_learn (entry plan)" ->
        ((s, d) => SparkEntry.queries("ta_bpe_learn")(s, d)),
      // dd_lsh_funnel executes eagerly and returns a one-row literal; the
      // audit inspects the lazy stage composition instead
      "dd_lsh_funnel (chain plan)" ->
        ((s, d) => operators.Similarity.lshFunnelChainForAudit(s, d)),
      // q_pagerank executes its iteration chain eagerly under AQE-off
      // (cache-partitioning reuse) and returns the materialized snapshot;
      // the audit inspects the shared lazy chain
      "q_pagerank" -> ((s, d) => operators.Graph.pagerankChain(s, d)),
      // dd_rep_rank: same eager AQE-off discipline, same audit shape
      "dd_rep_rank" -> ((s, d) => operators.Curation3.repRankChain(s, d)))

  /** Entries whose queries() DataFrame executes EAGERLY at construction
    * time (stage counts taken so caches can be released mid-entry): plan
    * tools (graft.Explain) must inspect this lazy substitute instead of
    * silently running the entry and printing a LocalRelation. ONE map so
    * Explain and the audit overrides can't drift. */
  val eagerEntryAlternatives
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "dd_lsh_funnel" ->
        ((s, d) => operators.Similarity.lshFunnelChainForAudit(s, d)),
      "q_pagerank" -> ((s, d) => operators.Graph.pagerankChain(s, d)),
      "dd_rep_rank" -> ((s, d) => operators.Curation3.repRankChain(s, d)))

  /** AQE-final executed plan text for one entry, split per PlanText. */
  def finalPlan(s: SparkSession, d: String, name: String): PlanText = {
    val df = auditOverrides.getOrElse(name, SparkEntry.queries(name))(s, d)
    df.queryExecution.toRdd.count() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val cut = p.indexOf("== Initial Plan ==")
    PlanText(p, if (cut >= 0) p.substring(0, cut) else p)
  }

  /** Run `body` under the big-stats simulation (see class doc). */
  def withBigStats[T](s: SparkSession)(body: => T): T =
    Scoped.withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Evaluate every contract for one entry; returns (desc, pass) plus the
    * plan text for reporting. */
  def audit(s: SparkSession, d: String, name: String): (String, Seq[(String, Boolean)]) = {
    val p = finalPlan(s, d, name)
    (p.full, audited.toMap.apply(name).map(c => (c.desc, c.check(p))))
  }
}
