package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2.3 — second batch of training-data text operators: duplicated
  * span detection (the word-n-gram analog of exact-substring dedup),
  * Simpson-index diversity signals (exact rational arithmetic — unlike
  * Shannon entropy there is no transcendental whose last ulp could differ
  * across engines), and PII scrubbing.
  *
  * Scale posture: dd_span is the only one that shuffles (one explode +
  * two partial-aggregated groupBys on 16-byte span hashes); the diversity
  * and scrub operators are pure per-row projections — no shuffle at all,
  * fully parallel at any corpus size. */
object TextOps2 {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.t(s, d, "documents")

  private val toksExpr = "filter(split(text, ' '), t -> t <> '')"

  /** Spans = md5 of each word 8-gram (hashing shrinks the shuffle key from
    * ~60 B of text to a fixed 32-char digest — at 100 TB the explode is
    * ~8× row count, so key width is the shuffle). */
  private val spanExpr =
    "IF(size(toks) >= 8, array_distinct(transform(sequence(1, size(toks) - 7), " +
      "i -> md5(concat_ws(' ', slice(toks, i, 8))))), array())"

  /** dd_containment's span-set table: (doc_id, sh: array<md5 of word
    * 8-gram>, n_g). */
  private[graft] def containmentSpans(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.widened(s, d, "documents")
      .withColumn("toks", expr(toksExpr))
      .filter(expr("size(toks) >= 8"))
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(toks) - 7), " +
          "i -> md5(concat_ws(' ', slice(toks, i, 8)))))").as("sh"))
      .withColumn("n_g", expr("size(sh)").cast("long"))

  /** dd_containment's EXACT prefix-filter candidate pairs (ia, ib) —
    * exposed so GenScaleSpec can pin that candidate fan-out grows
    * linearly with the corpus (the property the ppjoin bound provides
    * and a df-cap heuristic cannot). Prefix length for τ = 0.8:
    * n - ceil(4n/5) + 1, all-integer in both engines. */
  private[graft] def containmentCandidates(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = sh.select(col("doc_id"), col("n_g"), explode(col("sh")).as("g"))
    val dfq = inv.groupBy("g").agg(count(lit(1)).as("gdf"))
    val pre = inv.join(dfq, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("gdf"), col("g"))))
      .filter(col("rn") <= col("n_g") - expr("(n_g * 4 + 4) div 5") + 1)
      .select(col("doc_id").as("ia"), col("g"))
    pre.join(inv.select(col("doc_id").as("ib"), col("g")), "g")
      .filter(col("ia") =!= col("ib"))
      .select("ia", "ib").distinct()
  }

  // ---- shared REWRITING-stage definitions -------------------------------
  // Single-sourced between the standalone entries (ta_pii_scrub,
  // ta_line_dedup, dd_span_scrub) and the composed text-rewriting capstone
  // (ta_pipeline_scrub) — the Curation2 Gopher/DSIR discipline: one
  // definition, no drifting copies. All three rewriting stages share one
  // scale posture: the corpus TEXT never crosses a shuffle. Only hashed
  // keys (segment/span md5) and (doc_id, position) pairs shuffle; each
  // stage reduces to a per-doc sorted removal-position set (rows ∝ docs
  // WITH removals — duplication-proportional) and the text is rebuilt by
  // a pure expression behind one removal join.

  /** PII regexes (redaction order matters: emails contain digits). */
  private[graft] val piiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val piiIpv4 = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  private[graft] val piiDigits = "\\d{13,16}"

  /** The synthetic corpus carries no PII, so each doc gets a deterministic
    * planted suffix (derived from doc_id identically in both engines). */
  private[graft] def piiPlanted: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
      lit(" card 4111111111111111"))

  private[graft] def piiCount(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (size(regexp_extract_all(raw, lit(piiEmail), lit(0))).cast("long")
      + size(regexp_extract_all(raw, lit(piiIpv4), lit(0)))
      + size(regexp_extract_all(raw, lit(piiDigits), lit(0))))

  /** typed Column API (not expr()): regex backslashes must reach the
    * engine verbatim, not pass through SQL-literal unescaping */
  private[graft] def piiScrub(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(raw,
      piiEmail, "[EMAIL]"), piiIpv4, "[IP]"), piiDigits, "[NUM]")

  /** Oracle-side fragments for the same three definitions. */
  private[graft] val piiPlantSql =
    "text || ' contact user' || doc_id || '@example.com or 10.' " +
      "|| (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) " +
      "|| ' card 4111111111111111'"
  private[graft] def piiCountSql(raw: String): String =
    s"""CAST(len(regexp_extract_all($raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
       |    + len(regexp_extract_all($raw, '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}'))
       |    + len(regexp_extract_all($raw, '\\d{13,16}')) AS BIGINT)""".stripMargin
  private[graft] def piiScrubSql(raw: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($raw,
       |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
       |    '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '[IP]', 'g'),
       |    '\\d{13,16}', '[NUM]', 'g')""".stripMargin

  /** Line-dedup stage (C4/RefinedWeb boilerplate removal over fixed 4-word
    * segments): per-doc sorted indices of segments occurring in ≥ 3
    * distinct docs. Input needs (doc_id, toks); segments shuffle as md5
    * hashes only. */
  private[graft] def segRemovedPos(tk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val segs = tk.filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, CAST((size(toks) - 1) / 4 AS INT)), " +
          "j -> md5(array_join(slice(toks, 4 * j + 1, 4), ' ')))"))
        .as(Seq("pos", "sg")))
    val dup = segs.groupBy("sg").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 3).select("sg")
    segs.join(dup, Seq("sg"), "left_semi")
      .groupBy("doc_id")
      .agg(expr("array_sort(collect_list(CAST(pos AS BIGINT)))").as("rml"))
  }

  /** Rebuild after line dedup: kept segment indices = 0..nseg-1 minus rml
    * (array_except keeps order, hash-set lookup), segments re-derived by
    * O(1) slices; rml IS NULL (the common case) passes the doc through. */
  private[graft] val segCleanExpr =
    "CASE WHEN rml IS NULL THEN array_join(toks, ' ') " +
      "ELSE array_join(transform(" +
      "array_except(sequence(0L, CAST((size(toks) - 1) DIV 4 AS BIGINT)), rml), " +
      "j -> array_join(slice(toks, CAST(4 * j AS INT) + 1, 4), ' ')), ' ') END"
  private[graft] val segRemovedCountExpr =
    "CASE WHEN rml IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(size(rml) AS BIGINT) END"

  /** Span-scrub stage (Lee et al. 2022 exact-substring dedup): per-doc
    * sorted token positions covered by a NON-FIRST occurrence of a
    * duplicated word-8-gram (first by (doc_id, position) — the
    * deterministic canonical). One shuffle on the 16-byte span hash;
    * rn ≥ 2 alone identifies removable occurrences (a row_number of 2
    * already proves the span occurs at least twice — no second
    * count-over-partition window on the hottest exchange). */
  private[graft] def spanRemovedPos(tk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tk.filter(size(col("toks")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(toks) - 7), " +
          "i -> md5(concat_ws(' ', slice(toks, i, 8))))"))
        .as(Seq("p0", "sp")))
      .withColumn("p", col("p0").cast("long") + 1).drop("p0")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sp")).orderBy(col("doc_id"), col("p"))))
      .filter(col("rn") >= 2)
      .select(col("doc_id"), explode(expr("sequence(p, p + 7)")).as("p"))
      .groupBy("doc_id")
      .agg(expr("array_sort(collect_set(p))").as("rm"))
  }

  /** Rebuild after span scrub: kept positions = 1..n minus rm, tokens
    * picked by O(1) element_at. */
  private[graft] val spanCleanExpr =
    "CASE WHEN rm IS NULL THEN array_join(toks, ' ') " +
      "ELSE array_join(transform(" +
      "array_except(sequence(1L, CAST(size(toks) AS BIGINT)), rm), " +
      "i -> element_at(toks, CAST(i AS INT))), ' ') END"
  private[graft] val spanRemovedCountExpr =
    "CASE WHEN rm IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(size(rm) AS BIGINT) END"

  val defs: Seq[GraftQuery] = Seq(

    // duplicated-span signal (word-8-gram analog of exact-substring dedup,
    // after Lee et al. 2022 "Deduplicating Training Data Makes Language
    // Models Better"): fraction of a doc's 8-gram spans that also appear in
    // some OTHER doc (or twice in this one — span-level, not doc-level).
    // Pipeline use: high dup_frac docs are boilerplate/mirrors even when
    // doc-level near-dup misses them.
    GraftQuery("dd_span", (s, d) => {
      val base = Tables.widened(s, d, "documents")
      val spans = OpCache.track(s, base
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), explode(expr(spanExpr)).as("sp"))
        .persist()) // feeds the span-frequency agg AND the per-doc re-join
      val dupSpans = spans.groupBy("sp")
        .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("sp")
      val perDoc = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      val dupPerDoc = spans.join(dupSpans, Seq("sp"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
      base.select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .join(dupPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          when(coalesce(col("n_spans"), lit(0L)) > 0,
            coalesce(col("n_dup_spans"), lit(0L)).cast("double") / col("n_spans"))
            .otherwise(lit(0.0)).as("dup_frac"))
    },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sp AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(toks) - 6),
             |    i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS sp
             |  FROM t),
             |dup AS (SELECT sp FROM sp GROUP BY sp HAVING COUNT(*) >= 2),
             |pd AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
             |dd AS (SELECT doc_id, COUNT(*) AS n_dup_spans
             |  FROM sp JOIN dup USING (sp) GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(pd.n_spans, 0) AS n_spans,
             |  COALESCE(dd.n_dup_spans, 0) AS n_dup_spans,
             |  CASE WHEN COALESCE(pd.n_spans, 0) > 0
             |       THEN CAST(COALESCE(dd.n_dup_spans, 0) AS DOUBLE) / pd.n_spans
             |       ELSE 0.0 END AS dup_frac
             |FROM documents d LEFT JOIN pd USING (doc_id) LEFT JOIN dd USING (doc_id)""".stripMargin)),

    // duplicated-span REMOVAL — dd_span's signal promoted to the operator
    // of Lee et al. 2022 (exact-substring dedup): keep the corpus-wide
    // FIRST occurrence of every duplicated word-8-gram span (first by
    // (doc_id, position) — the deterministic canonical), remove every
    // token covered by any OTHER occurrence, reassemble the survivors in
    // order (the ta_line_dedup pattern; ta_pii_scrub does the same for PII
    // spans). Every stage after the span window is DUPLICATION-
    // proportional, not corpus-proportional: the per-span occurrence
    // window (one shuffle on the 16-byte span hash; slim (doc_id, pos)
    // rows — a boilerplate mega-span skews one partition of 3-column
    // rows, AQE splits it), the covered-position distinct + per-doc
    // position-set agg (only duplicated occurrences explode their 8
    // positions), and ONE corpus join against that per-doc removal set —
    // reassembly is a pure expression (array_except of kept positions,
    // O(1) element_at picks), so the corpus text is never token-exploded,
    // never regrouped, and crosses at most the one removal join (which
    // AQE broadcasts when duplication is sparse). Never all-pairs, never
    // a doc×doc join — dedup cost follows DUPLICATION mass, not corpus
    // size squared.
    GraftQuery("dd_span_scrub", (s, d) => {
      val base = Tables.widened(s, d, "documents")
        .withColumn("toks", expr(toksExpr))
      // reassembly without a token explode: untouched docs (rm IS NULL,
      // the overwhelming majority) pass through with their original tokens
      base.join(spanRemovedPos(base), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("CAST(size(toks) AS BIGINT)").as("n_toks"),
          expr(spanRemovedCountExpr).as("n_removed"),
          expr(spanCleanExpr).as("clean_text"))
    },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |spx AS (SELECT doc_id,
             |    unnest(range(1, len(toks) - 6)) AS p,
             |    unnest(list_transform(range(1, len(toks) - 6),
             |      i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS sp
             |  FROM t WHERE len(toks) >= 8),
             |occ AS (SELECT doc_id, p,
             |    ROW_NUMBER() OVER (PARTITION BY sp ORDER BY doc_id, p) AS rn
             |  FROM spx),
             |rem AS (SELECT doc_id, p FROM occ WHERE rn >= 2),
             |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS p FROM rem),
             |tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
             |    unnest(toks) AS tok FROM t),
             |kept AS (SELECT tok.doc_id, tok.p, tok.tok
             |  FROM tok ANTI JOIN cov USING (doc_id, p)),
             |re AS (SELECT doc_id,
             |    COALESCE(array_to_string(list(tok ORDER BY p), ' '), '') AS clean_text,
             |    CAST(COUNT(*) AS BIGINT) AS n_kept
             |  FROM kept GROUP BY doc_id),
             |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t)
             |SELECT nt.doc_id, nt.n_toks,
             |  nt.n_toks - COALESCE(re.n_kept, 0) AS n_removed,
             |  COALESCE(re.clean_text, '') AS clean_text
             |FROM nt LEFT JOIN re USING (doc_id)""".stripMargin)),

    // Simpson-index diversity (sum of squared frequencies / n²) at char and
    // token granularity — the repetitiveness signal quality filters use
    // where Shannon entropy would appear, chosen because it is EXACT: all
    // sums are integer, the only float op is one final division, so both
    // engines agree bit-for-bit (SURVEY §6; entropy's log2 last-ulp is
    // libm-dependent). Pure projection: no shuffle, trivially parallel.
    GraftQuery("ta_diversity", (s, d) => {
      // one-pass native expression (simpson_stats): the HOF formulation
      // (array_distinct × aggregate with a replace() per distinct char)
      // was O(distinct · len) interpreted work per row — 2.5 s of the
      // sf0.1 bench for what is one hash-map pass
      docs(s, d)
        .withColumn("st", expr("simpson_stats(text)"))
        .select(col("doc_id"),
          col("st.char_sumsq").as("char_sumsq"),
          col("st.tok_sumsq").as("tok_sumsq"),
          (col("st.char_sumsq").cast("double")
            / (col("st.n_chars") * col("st.n_chars"))).as("simpson_char"),
          (col("st.tok_sumsq").cast("double")
            / (col("st.n_toks") * col("st.n_toks"))).as("simpson_tok"))
    },
      Some("""WITH t AS (SELECT doc_id, text,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |c AS (SELECT doc_id, text, toks,
             |    CAST(list_sum(list_transform(list_distinct(string_split(text, '')),
             |      ch -> CAST(length(text) - length(replace(text, ch, '')) AS BIGINT)
             |            * (length(text) - length(replace(text, ch, ''))))) AS BIGINT)
             |      AS char_sumsq,
             |    CAST(list_sum(list_transform(list_distinct(toks),
             |      tk -> CAST(len(list_filter(toks, x -> x = tk)) AS BIGINT)
             |            * len(list_filter(toks, x -> x = tk)))) AS BIGINT) AS tok_sumsq
             |  FROM t)
             |SELECT doc_id, char_sumsq, tok_sumsq,
             |  CAST(char_sumsq AS DOUBLE) / (CAST(length(text) AS BIGINT) * length(text))
             |    AS simpson_char,
             |  CAST(tok_sumsq AS DOUBLE) / (CAST(len(toks) AS BIGINT) * len(toks))
             |    AS simpson_tok
             |FROM c""".stripMargin)),

    // corpus-level line dedup (C4/RefinedWeb boilerplate removal): drop any
    // "line" occurring in >= 3 distinct docs, keep the rest in order. The
    // synthetic docs are single-line, so fixed 4-word segments stand in for
    // lines. Scale (the shared rewriting-stage shape): segments shuffle as
    // md5 HASHES only — frequency agg (map-side combined), semi-join to the
    // duplicated-hash set, per-doc removal-index agg (rows ∝ docs with
    // removals) — and the text is rebuilt by expression behind one removal
    // join; never all-pairs, no per-doc regroup of raw segments.
    GraftQuery("ta_line_dedup", (s, d) => {
      // zero-token guard on BOTH engines: without it the Spark side's
      // sequence(0, CAST((size-1)/4 AS INT)) emits one empty segment for
      // an empty doc while the oracle's range(0, (len+3)//4) emits none
      val tk = Tables.widened(s, d, "documents")
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) > 0)
      tk.join(segRemovedPos(tk), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(segCleanExpr).as("clean_text"),
          expr(segRemovedCountExpr).as("n_removed"))
    },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents
             |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
             |seg AS (SELECT doc_id,
             |    unnest(range(0, (len(toks) + 3) // 4)) AS pos,
             |    unnest(list_transform(range(0, (len(toks) + 3) // 4),
             |      j -> array_to_string(list_slice(toks, 4 * j + 1, 4 * j + 4), ' '))) AS seg
             |  FROM t),
             |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY seg)
             |SELECT doc_id,
             |  COALESCE(array_to_string(list(seg ORDER BY pos) FILTER (WHERE nd < 3), ' '),
             |    '') AS clean_text,
             |  CAST(COUNT(*) FILTER (WHERE nd >= 3) AS BIGINT) AS n_removed
             |FROM seg JOIN freq USING (seg)
             |GROUP BY doc_id""".stripMargin)),

    // content-defined chunk dedup (the rsync/CDC primitive): chunk
    // boundaries fall where a 16-codepoint rolling polynomial hash hits
    // h % 64 == 0, so boundaries move WITH content — an insertion early in
    // a doc shifts every fixed-window shingle but only local CDC chunks,
    // which is why chunk-level dedup survives edits that break offset-based
    // schemes. Codepoints are the unit on both engines (DuckDB
    // ord/substr/length are codepoint-indexed; the kernel decodes UTF-8
    // once and folds codepoint values — non-BMP parity pinned in
    // PropertySpec). Exact integer arithmetic ((acc·257 + cp) mod 2^20), chunk
    // identity by md5, one global chunk-frequency shuffle; per-doc output
    // is the dup-chunk profile (the dd_span analog with content-defined
    // boundaries).
    GraftQuery("dd_chunk_dedup", (s, d) => {
      val base = Tables.widened(s, d, "documents")
        .withColumn("chunks", expr("cdc_chunks(text)"))
      val ch = OpCache.track(s,
        base.select(col("doc_id"), explode(col("chunks")).as("ch")).persist())
      val dup = ch.groupBy("ch").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("ch")
      val perDoc = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val dupPerDoc = ch.join(dup, Seq("ch"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
      base.select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .join(dupPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
    },
      Some("""WITH b0 AS (SELECT doc_id, text,
             |    list_filter(range(16, length(text) + 1), i ->
             |      list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(range(i - 15, i + 1), k ->
             |          CAST(ord(substr(text, CAST(k AS INTEGER), 1)) AS BIGINT))),
             |        (acc, x) -> (acc * 257 + x) % 1048576) % 64 = 0) AS b0
             |  FROM documents),
             |b AS (SELECT doc_id, text,
             |    CASE WHEN len(b0) > 0 AND b0[CAST(len(b0) AS INTEGER)] = length(text)
             |         THEN b0 ELSE list_concat(b0, [CAST(length(text) AS BIGINT)]) END
             |      AS bnds
             |  FROM b0),
             |c AS (SELECT doc_id, unnest(list_transform(range(1, len(bnds) + 1), j ->
             |    md5(substr(text,
             |      CAST(CASE WHEN j = 1 THEN 1 ELSE bnds[CAST(j - 1 AS INTEGER)] + 1 END AS INTEGER),
             |      CAST(bnds[CAST(j AS INTEGER)]
             |        - CASE WHEN j = 1 THEN 0 ELSE bnds[CAST(j - 1 AS INTEGER)] END AS INTEGER)))))
             |    AS ch
             |  FROM b),
             |dup AS (SELECT ch FROM (SELECT ch, COUNT(DISTINCT doc_id) AS nd
             |  FROM c GROUP BY ch) WHERE nd >= 2),
             |pd AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id),
             |dd AS (SELECT doc_id, COUNT(*) AS n_dup_chunks
             |  FROM c JOIN dup USING (ch) GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(pd.n_chunks, 0) AS n_chunks,
             |  COALESCE(dd.n_dup_chunks, 0) AS n_dup_chunks
             |FROM documents d
             |LEFT JOIN pd USING (doc_id) LEFT JOIN dd USING (doc_id)""".stripMargin)),

    // Bloom-filter decontamination gate — the memory-bounded variant of
    // dd_decontaminate: instead of broadcasting the raw eval-set shingles,
    // broadcast a FIXED-SIZE filter (65536 positions, 4 md5-derived
    // probes per shingle). At 100 TB the eval set can be millions of
    // n-grams but the filter stays 8 KB — and false positives are part of
    // the contract, not noise: the oracle recomputes the same positions,
    // so even FPR-induced flags hash-match exactly.
    //
    // The corpus side is a PURE MAP PASS: the native bloom_flag_count
    // expression counts, per document, the spans whose 4 probe positions
    // all hit the broadcast filter — no posexplode of 4× the span stream,
    // no corpus-wide semi-join, no per-(doc, span) + per-doc groupBy pair
    // (the previous shape shuffled the multiplied probe stream twice; at
    // 100 TB those shuffles dominate the gate). Only the small eval-set
    // side aggregates (its distinct probe positions ARE the filter).
    GraftQuery("dd_bloom_gate", (s, d) => {
      val all = Tables.widened(s, d, "documents")
      // word-8-gram spans, already md5'd by spanExpr — the 4 probe
      // positions fold disjoint segments of that digest, no second hash
      def pos(off: Int) =
        expr(s"CAST(conv(substring(sg, $off, 8), 16, 10) AS BIGINT) % 65536")
      val bloom = all.filter(col("doc_id") % 10 === 3)
        .withColumn("toks", expr(toksExpr))
        .select(explode(expr(spanExpr)).as("sg"))
        .select(explode(array(pos(1), pos(9), pos(17), pos(25))).as("pos"))
        .agg(expr("array_sort(collect_set(pos))").as("bits"))
      all.filter(col("doc_id") % 10 =!= 3)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), expr(spanExpr).as("sgs"))
        .crossJoin(broadcast(bloom))
        .select(col("doc_id"),
          expr("bloom_flag_count(sgs, bits)").as("n_flagged"))
        .withColumn("gated", col("n_flagged") > 0)
    },
      Some(s"""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |    range(1, len(toks) - 6),
             |    i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS sh
             |  FROM t),
             |bs AS (SELECT DISTINCT unnest(sh) AS sg FROM sh WHERE doc_id % 10 = 3),
             |bp AS (SELECT DISTINCT unnest([
             |    ${Relational.duckHex8("m", 1)} % 65536,
             |    ${Relational.duckHex8("m", 9)} % 65536,
             |    ${Relational.duckHex8("m", 17)} % 65536,
             |    ${Relational.duckHex8("m", 25)} % 65536]) AS pos
             |  FROM (SELECT sg AS m FROM bs)),
             |tr AS (SELECT doc_id, unnest(sh) AS sg FROM sh WHERE doc_id % 10 <> 3),
             |tp AS (SELECT doc_id, sg, unnest([
             |    ${Relational.duckHex8("m", 1)} % 65536,
             |    ${Relational.duckHex8("m", 9)} % 65536,
             |    ${Relational.duckHex8("m", 17)} % 65536,
             |    ${Relational.duckHex8("m", 25)} % 65536]) AS pos
             |  FROM (SELECT doc_id, sg, sg AS m FROM tr)),
             |gh AS (SELECT doc_id, sg FROM tp JOIN bp USING (pos)
             |  GROUP BY doc_id, sg HAVING COUNT(*) = 4),
             |nf AS (SELECT doc_id, COUNT(*) AS n_flagged FROM gh GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(nf.n_flagged, 0) AS n_flagged,
             |  COALESCE(nf.n_flagged, 0) > 0 AS gated
             |FROM documents d LEFT JOIN nf USING (doc_id)
             |WHERE d.doc_id % 10 <> 3""".stripMargin)),

    // sequence packing for training: greedily pack docs into fixed
    // 512-token windows per source (docs in id order), reporting per-bin
    // fill and padding waste — the "pack to context length" step between a
    // clean corpus and a token shard. Same scale shape as the shard
    // manifest: the running sum is windowed PER SOURCE, so packing
    // parallelizes across sources with no global sort, and bins never
    // straddle sources.
    GraftQuery("ta_pack_sequences", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val seqLen = 512L
      val w = Window.partitionBy(col("source"))
        .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
      Tables.widened(s, d, "documents")
        .withColumn("n_toks", expr(s"CAST(size($toksExpr) AS BIGINT)"))
        .select(col("source"), col("doc_id"), col("n_toks"))
        .withColumn("bin", floor(coalesce(sum(col("n_toks")).over(w), lit(0L)) / seqLen))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_toks"),
          (lit(seqLen) * ceil(sum("n_toks") / lit(seqLen.toDouble))
            - sum("n_toks")).cast("long").as("n_pad"))
    },
      Some("""WITH t AS (SELECT source, doc_id,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
             |      AS n_toks
             |  FROM documents),
             |c AS (SELECT source, doc_id, n_toks,
             |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
             |  FROM t)
             |SELECT source, CAST(FLOOR(prior / 512) AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_toks,
             |  CAST(512 * CEIL(SUM(n_toks) / 512.0) - SUM(n_toks) AS BIGINT) AS n_pad
             |FROM c GROUP BY 1, 2""".stripMargin)),

    // deterministic quota resampling — the data-mixing step: every source
    // is up/down-weighted to an exact per-source quota (here 40 docs).
    // Docs rank by md5(doc_id) within their source (a stable shuffle both
    // engines reproduce); rank i of n gets floor(q/n) copies plus one more
    // iff i <= q mod n — copies sum to the quota EXACTLY, reproducible
    // across engines, runs and partitionings (rand()-weighted sampling is
    // none of those). Output stays one row per doc with its multiplicity:
    // the training loader explodes it, the shuffle never carries clones.
    GraftQuery("ta_resample", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val quota = 40L
      val w = Window.partitionBy(col("source"))
        .orderBy(expr("md5(CAST(doc_id AS STRING))"), col("doc_id"))
      Tables.widened(s, d, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("n_copies",
          expr(s"CAST($quota DIV n_src AS BIGINT)")
            + when(col("rk") <= lit(quota) % col("n_src"), 1L).otherwise(0L))
        .select("source", "doc_id", "rk", "n_copies")
    },
      Some("""WITH r AS (SELECT source, doc_id,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
             |    COUNT(*) OVER (PARTITION BY source) AS n_src
             |  FROM documents)
             |SELECT source, doc_id, rk,
             |  CAST(40 // n_src + CASE WHEN rk <= 40 % n_src THEN 1 ELSE 0 END
             |    AS BIGINT) AS n_copies
             |FROM r""".stripMargin)),

    // URL canonicalization dedup — the crawl-frontier staple: the same
    // logical page arrives as many raw URL spellings (case-varied host,
    // explicit default port, fragment, trailing slash, permuted query
    // params); canonicalize then exact-dedup on the canonical form. The
    // corpus carries no URLs, so each doc gets a deterministic planted URL
    // (3 spelling variants; doc 3k and 3k+1 canonicalize equal, 3k+2 is
    // unique), and the oracle re-runs the same canonicalization — every
    // normalization step is hash-checked, not just the group count. Pure
    // per-row string work + one groupBy shuffle on the canonical key.
    GraftQuery("dd_url_canon", (s, d) => {
      Tables.t(s, d, "documents")
        .withColumn("h", expr("(doc_id DIV 3) % 20"))
        .withColumn("p", expr("(doc_id DIV 3) % 30"))
        .withColumn("raw", expr(
          "CASE doc_id % 3 " +
            "WHEN 0 THEN concat('https://CDN', h, '.Example.COM:443/doc/', p, '/?b=2&a=1#sec') " +
            "WHEN 1 THEN concat('https://cdn', h, '.example.com/doc/', p, '?a=1&b=2') " +
            "ELSE concat('https://cdn', h, '.example.com/doc/', p, '/extra?a=1&b=2') END"))
        .withColumn("scheme", lower(expr("substring_index(raw, '://', 1)")))
        .withColumn("rest", expr("substring(raw, instr(raw, '://') + 3)"))
        .withColumn("hostport", expr("substring_index(rest, '/', 1)"))
        .withColumn("pathq", expr("substring(rest, length(hostport) + 1)"))
        .withColumn("host", lower(expr("substring_index(hostport, ':', 1)")))
        .withColumn("port", expr(
          "IF(instr(hostport, ':') > 0, substring(hostport, instr(hostport, ':') + 1), '')"))
        .withColumn("keep_port", expr(
          "NOT (port = '' OR (scheme = 'https' AND port = '443') " +
            "OR (scheme = 'http' AND port = '80'))"))
        .withColumn("nofrag", expr("substring_index(pathq, '#', 1)"))
        .withColumn("path0", expr("substring_index(nofrag, '?', 1)"))
        .withColumn("path", expr(
          "IF(path0 = '', '/', IF(length(path0) > 1 AND endswith(path0, '/'), " +
            "substring(path0, 1, length(path0) - 1), path0))"))
        .withColumn("q0", expr(
          "IF(instr(nofrag, '?') > 0, substring(nofrag, instr(nofrag, '?') + 1), '')"))
        .withColumn("qs", expr(
          "IF(q0 = '', '', array_join(array_sort(split(q0, '&')), '&'))"))
        .withColumn("canon_url", expr(
          "concat(scheme, '://', host, IF(keep_port, concat(':', port), ''), " +
            "path, IF(qs = '', '', concat('?', qs)))"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_forms"), min("doc_id").as("keep_id"))
    },
      Some("""WITH u AS (SELECT doc_id,
             |    (doc_id // 3) % 20 AS h, (doc_id // 3) % 30 AS p
             |  FROM documents),
             |r AS (SELECT doc_id, CASE doc_id % 3
             |    WHEN 0 THEN 'https://CDN' || h || '.Example.COM:443/doc/' || p || '/?b=2&a=1#sec'
             |    WHEN 1 THEN 'https://cdn' || h || '.example.com/doc/' || p || '?a=1&b=2'
             |    ELSE 'https://cdn' || h || '.example.com/doc/' || p || '/extra?a=1&b=2' END AS raw
             |  FROM u),
             |c1 AS (SELECT doc_id, lower(split_part(raw, '://', 1)) AS scheme,
             |    substr(raw, strpos(raw, '://') + 3) AS rest FROM r),
             |c2 AS (SELECT *, split_part(rest, '/', 1) AS hostport,
             |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq FROM c1),
             |c3 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host,
             |    CASE WHEN strpos(hostport, ':') > 0
             |         THEN substr(hostport, strpos(hostport, ':') + 1) ELSE '' END AS port,
             |    split_part(pathq, '#', 1) AS nofrag FROM c2),
             |c4 AS (SELECT *,
             |    NOT (port = '' OR (scheme = 'https' AND port = '443')
             |         OR (scheme = 'http' AND port = '80')) AS keep_port,
             |    split_part(nofrag, '?', 1) AS path0,
             |    CASE WHEN strpos(nofrag, '?') > 0
             |         THEN substr(nofrag, strpos(nofrag, '?') + 1) ELSE '' END AS q0
             |  FROM c3),
             |c5 AS (SELECT *,
             |    CASE WHEN path0 = '' THEN '/'
             |         WHEN length(path0) > 1 AND ends_with(path0, '/')
             |         THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path,
             |    CASE WHEN q0 = '' THEN ''
             |         ELSE array_to_string(list_sort(string_split(q0, '&')), '&') END AS qs
             |  FROM c4),
             |canon AS (SELECT doc_id,
             |    scheme || '://' || host ||
             |    CASE WHEN keep_port THEN ':' || port ELSE '' END ||
             |    path || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
             |  FROM c5)
             |SELECT canon_url, COUNT(*) AS n_forms, MIN(doc_id) AS keep_id
             |FROM canon GROUP BY canon_url""".stripMargin)),

    // TF-IDF salient terms per doc — the classic relevance signal, in the
    // EXACT-arithmetic variant (SURVEY §6): idf as the linear rarity ratio
    // N/df instead of log(N/df), so the score is one correctly-rounded
    // double division of two exact integer products ((tf·N) / (|d|·df)) —
    // the ranking a transcendental would give, without libm's last-ulp
    // engine dependence. Two shuffles (doc-term tf agg, term df agg), df
    // re-joined on the term key, top-5 via per-doc window.
    GraftQuery("ta_tfidf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.widened(s, d, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      // ONE explode pass: the doc-term table persists and dlen/df/n all
      // re-fold from it (dlen = Σ tf per doc ≡ token count; n_docs over
      // tf's doc_ids ≡ over tok's — a doc with zero tokens appears in
      // neither). The previous lazy form re-ran the corpus explode four
      // times (tf, dlen, df-via-tf, n).
      val tf = OpCache.track(s,
        tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")).persist())
      val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = tf.select(countDistinct("doc_id").as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("token").asc)
      tf.join(df, "token").join(dlen, "doc_id").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double")
            / (col("dlen") * col("df")).cast("double"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("doc_id", "rk", "token", "tf", "df", "score")
    },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
             |  FROM documents),
             |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dlen AS (SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY 1),
             |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
             |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
             |    CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dlen.dlen * df.df AS DOUBLE)
             |      AS score
             |  FROM tf JOIN df USING (token) JOIN dlen USING (doc_id) CROSS JOIN n),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, token) AS rk FROM sc)
             |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf, df, score
             |FROM r WHERE rk <= 5""".stripMargin)),

    // PII scrub: email / IPv4 / long-digit-run redaction — the compliance
    // gate every corpus passes before training. The synthetic corpus
    // carries no PII, so each doc gets a deterministic planted suffix
    // (derived from doc_id identically in both engines); the oracle then
    // proves the regexes actually strip it: n_pii counts the plants, and
    // the scrubbed text must hash-match. Redaction order matters (emails
    // contain digits): email → IPv4 → digit runs. Pure projection.
    GraftQuery("ta_pii_scrub", (s, d) => {
      docs(s, d)
        .withColumn("raw", piiPlanted)
        .select(col("doc_id"),
          piiCount(col("raw")).as("n_pii"),
          piiScrub(col("raw")).as("scrubbed"))
    },
      Some(s"""WITH r AS (SELECT doc_id, $piiPlantSql AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  ${piiCountSql("raw")} AS n_pii,
             |  ${piiScrubSql("raw")} AS scrubbed
             |FROM r""".stripMargin)),

    // 165. asymmetric CONTAINMENT join (C(A,B) = |A∩B| / |A| over word
    // 8-gram span sets — dd_span's token space): finds docs mostly
    // CONTAINED in another — quotes, boilerplate wrappers, near-supersets
    // — which symmetric Jaccard (dd_ngram_jaccard) misses by construction
    // (a 100-word quote inside a 10k-word page has Jaccard ≈ 0.01 but
    // containment ≈ 1). Word 8-grams, not char shingles: a gram carries
    // ~8 words of context, so its document frequency is ~1 except for
    // genuinely shared passages — on a low-entropy corpus char 5-grams
    // collapse to a tiny shared vocabulary and ANY candidate scheme
    // degenerates toward all-pairs (measured at sf0.1: 17.3M candidate
    // pairs char-5 vs 505 word-8 for the same 5000 docs). Candidate
    // generation is EXACT prefix filtering (the ppjoin/all-pairs
    // principle: Xiao et al. WWW 2008 "Efficient Similarity Joins for
    // Near Duplicate Detection"; Bayardo et al. WWW 2007 "Scaling Up
    // All Pairs Similarity Search"): C(A,B) ≥ τ forces |A∩B| ≥ ceil(τ|A|), so at
    // most |A| - ceil(τ|A|) of A's grams can miss B — probing only A's
    // (|A| - ceil(τ|A|) + 1) globally-RAREST grams (order = (df, gram),
    // one rank window per doc, bounded by doc length) against the full
    // inverted index guarantees every qualifying pair shares a probed
    // gram. NO capacity knob to outgrow: unlike a df-cap heuristic
    // (which goes blind once a dup cluster's size passes the cap — the
    // fixed-capacity failure class of SURVEY §5), prefix fan-out
    // concentrates exactly where true shared passages are, so candidate
    // work scales with the OUTPUT. Verify is exact set arithmetic on
    // candidates only: two integer set sizes, one double division,
    // bit-identical in both engines.
    GraftQuery("dd_containment", (s, d) => {
      val sh = OpCache.track(s, containmentSpans(s, d)
        .persist()) // feeds the inverted index AND both verify joins
      containmentCandidates(sh)
        .join(sh.select(col("doc_id").as("ia"), col("sh").as("sha")), "ia")
        .join(sh.select(col("doc_id").as("ib"), col("sh").as("shb")), "ib")
        .withColumn("inter", expr("size(array_intersect(sha, shb))").cast("long"))
        .withColumn("cont", col("inter").cast("double") / expr("size(sha)"))
        .filter(col("cont") >= 0.8)
        .select("ia", "ib", "cont")
    },
      Some(s"""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |d AS (SELECT doc_id,
             |    list_distinct(list_transform(range(1, len(toks) - 6),
             |      i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS sh,
             |    CAST(len(list_distinct(list_transform(range(1, len(toks) - 6),
             |      i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS BIGINT)
             |      AS n_g
             |  FROM t WHERE len(toks) >= 8),
             |inv AS (SELECT doc_id, n_g, unnest(sh) AS g FROM d),
             |dfq AS (SELECT g, COUNT(*) AS gdf FROM inv GROUP BY g),
             |rk AS (SELECT inv.doc_id, inv.n_g, inv.g,
             |    ROW_NUMBER() OVER (PARTITION BY inv.doc_id
             |      ORDER BY dfq.gdf, inv.g) AS rn
             |  FROM inv JOIN dfq USING (g)),
             |pre AS (SELECT doc_id AS ia, g FROM rk
             |  WHERE rn <= n_g - (n_g * 4 + 4) // 5 + 1),
             |cand AS (SELECT DISTINCT pre.ia, inv.doc_id AS ib
             |  FROM pre JOIN inv USING (g)
             |  WHERE pre.ia <> inv.doc_id),
             |v AS (SELECT ia, ib,
             |    CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS inter,
             |    CAST(len(da.sh) AS BIGINT) AS na
             |  FROM cand JOIN d da ON da.doc_id = cand.ia
             |  JOIN d db ON db.doc_id = cand.ib)
             |SELECT ia, ib, CAST(inter AS DOUBLE) / na AS cont
             |FROM v WHERE CAST(inter AS DOUBLE) / na >= 0.8""".stripMargin)),

    // 166. WINNOWING fingerprint selection (Schleimer et al., SIGMOD 2003
    // — the MOSS algorithm): hash every char 8-gram, slide a 4-hash
    // window, keep the RIGHTMOST minimal hash per window, dedup
    // (hash, position) picks. Guarantees every match of length ≥ 11 chars
    // shares a fingerprint while storing ~2/(w+1) of the grams — the
    // local-sampling alternative to ta_fingerprint's fixed-stride rolling
    // hash (winnowing's guarantee is position-INDEPENDENT: insertions
    // shift positions but the window-min picks realign). Pure per-row
    // projection (no shuffle); each (hash, pos) pick is encoded as one
    // BIGINT (hash·10⁵ + pos) so the dedup and the checksum fold need no
    // struct equality, and the integer checksum pins every pick exactly.
    GraftQuery("ta_winnow", (s, d) => {
      // one native pass (winnow_stats): 8-gram md5-prefix hashes, window-4
      // rightmost-min picks, distinct count + sum — the interpreted HOF
      // formulation ran ~n_chars md5+conv lambda evaluations per doc and
      // was the worst 100x-scale ratio in BENCH_ALL (51x); the SQL oracle
      // keeps the explicit fold and the results stay hash-identical
      Tables.widened(s, d, "documents")
        .filter(length(col("text")) >= 11) // 8-gram + window 4 minimum
        .withColumn("st", expr("winnow_stats(text)"))
        .select(col("doc_id"),
          col("st.n_windows").as("n_windows"),
          col("st.n_fp").as("n_fp"),
          col("st.fp_sum").as("fp_sum"))
    },
      Some(s"""WITH g AS (SELECT doc_id,
             |    list_transform(range(1, length(text) - 6),
             |      i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS ms
             |  FROM documents WHERE length(text) >= 11),
             |h AS (SELECT doc_id,
             |    list_transform(ms, m -> ${Relational.duckHex8("m", 1)}) AS h
             |  FROM g),
             |w AS (SELECT doc_id, h,
             |    list_distinct(list_transform(range(1, len(h) - 2), wi ->
             |      list_reduce(
             |        list_prepend(h[CAST(wi AS INTEGER)] * 100000 + wi,
             |          list_transform(range(wi + 1, wi + 4), j -> j)),
             |        (acc, j) -> CASE
             |          WHEN h[CAST(j AS INTEGER)] <= acc // 100000
             |          THEN h[CAST(j AS INTEGER)] * 100000 + j ELSE acc END))) AS fp
             |  FROM h)
             |SELECT doc_id,
             |  CAST(len(h) - 3 AS BIGINT) AS n_windows,
             |  CAST(len(fp) AS BIGINT) AS n_fp,
             |  CAST(list_sum(fp) AS BIGINT) AS fp_sum
             |FROM w""".stripMargin)),

    // 182. the text-REWRITING capstone: what a pipeline actually
    // materializes before tokenization, as ONE declarative plan —
    // PII scrub → corpus-level line dedup → duplicated-span scrub →
    // final clean corpus with per-doc removal accounting (the manifest
    // capstone ta_pipeline_curate composes the SELECTION stack; this
    // composes the stack that REWRITES text). Every stage is the shared
    // definition its standalone entry uses (piiScrub / segRemovedPos /
    // spanRemovedPos — the Curation2 Gopher/DSIR single-source
    // discipline), and the composition is where scrubbing pays twice:
    // redaction normalizes per-doc-unique PII into IDENTICAL placeholder
    // tokens, which the dedup stages then catch as the boilerplate it
    // just became. Scale posture (the whole point of the shared shape):
    // corpus TEXT never crosses a shuffle in ANY stage — only md5 keys
    // and (doc_id, position) pairs shuffle, each stage reduces to a
    // duplication-proportional per-doc removal set, and text is rebuilt
    // by expression behind one removal join per stage. The line-deduped
    // intermediate (the one corpus-sized artifact both span-stage
    // branches read) is persisted partition-local, exactly what a real
    // pipeline would materialize between passes.
    GraftQuery("ta_pipeline_scrub", (s, d) =>
      scrubbedCorpus(s, d).select("doc_id", "n_pii", "n_seg_removed",
        "n_span_removed", "n_toks_final", "clean_text"),
      Some(s"""WITH $scrubSqlCtes
             |SELECT doc_id, n_pii, n_seg_removed, n_span_removed,
             |  n_toks_final, clean_text FROM scrubbed""".stripMargin))
  )

  /** The full 3-stage rewriting chain, carrying `source` —
    * ta_pipeline_scrub selects from it and the grand capstone
    * (ta_pipeline_full) feeds it to the selection stack. MEMOIZED
    * (persisted final clean corpus, one copy per session+dir): both
    * consumers previously built the whole chain independently — the
    * clean corpus is exactly what a real pipeline materializes between
    * passes, so it belongs in the shared feature store, not in per-entry
    * working caches. The build materializes the output, then frees the
    * two internal stage intermediates (the minhashPairsWith discipline),
    * so they never outlive the build. */
  private[graft] def scrubbedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    OpCache.memo(s, s"scrub|$d") {
      // persisted: the scrub stage's output feeds three branches (segment
      // explode, duplicated-segment set, removal join) — cache the regex
      // pass once instead of re-scrubbing the corpus per branch
      val tk1 = docs(s, d)
        .withColumn("raw", piiPlanted)
        .select(col("doc_id"), col("source"),
          piiCount(col("raw")).as("n_pii"),
          piiScrub(col("raw")).as("t1"))
        .withColumn("toks", expr("filter(split(t1, ' '), t -> t <> '')"))
        .persist()
      val s2 = tk1.join(segRemovedPos(tk1), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_pii"),
          expr(segRemovedCountExpr).as("n_seg_removed"),
          expr(segCleanExpr).as("t2"))
      val tk2 = s2
        .withColumn("toks", expr("filter(split(t2, ' '), t -> t <> '')"))
        .persist()
      val out = tk2.join(spanRemovedPos(tk2), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_pii"), col("n_seg_removed"),
          expr(spanRemovedCountExpr).as("n_span_removed"),
          (expr("CAST(size(toks) AS BIGINT)")
            - expr(spanRemovedCountExpr)).as("n_toks_final"),
          expr(spanCleanExpr).as("clean_text"))
        .persist()
      out.count()
      tk2.unpersist()
      tk1.unpersist()
      out
    }

  /** DuckDB mirror of scrubbedCorpus (no WITH prefix): ends with
    * `scrubbed(doc_id, source, n_pii, n_seg_removed, n_span_removed,
    * n_toks_final, clean_text)`. */
  private[graft] lazy val scrubSqlCtes: String =
    s"""r AS (SELECT doc_id, source, $piiPlantSql AS raw
             |  FROM documents),
             |s1 AS (SELECT doc_id, source,
             |  ${piiCountSql("raw")} AS n_pii,
             |  ${piiScrubSql("raw")} AS t1
             |  FROM r),
             |tk1 AS MATERIALIZED (SELECT doc_id, source, n_pii,
             |    list_filter(string_split(t1, ' '), x -> x <> '') AS toks
             |  FROM s1),
             |seg AS (SELECT doc_id, unnest(range(0, (len(toks) + 3) // 4)) AS pos,
             |    unnest(list_transform(range(0, (len(toks) + 3) // 4),
             |      j -> array_to_string(list_slice(toks, 4 * j + 1, 4 * j + 4), ' '))) AS seg
             |  FROM tk1 WHERE len(toks) > 0),
             |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY seg),
             |l2 AS (SELECT doc_id,
             |    COALESCE(array_to_string(list(seg ORDER BY pos) FILTER (WHERE nd < 3), ' '),
             |      '') AS t2,
             |    CAST(COUNT(*) FILTER (WHERE nd >= 3) AS BIGINT) AS n_seg_removed
             |  FROM seg JOIN freq USING (seg) GROUP BY doc_id),
             |tk2 AS MATERIALIZED (SELECT tk1.doc_id, tk1.source, tk1.n_pii,
             |    COALESCE(l2.n_seg_removed, 0) AS n_seg_removed,
             |    list_filter(string_split(COALESCE(l2.t2, ''), ' '), x -> x <> '') AS toks
             |  FROM tk1 LEFT JOIN l2 USING (doc_id)),
             |spx AS (SELECT doc_id, unnest(range(1, len(toks) - 6)) AS p,
             |    unnest(list_transform(range(1, len(toks) - 6),
             |      i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS sp
             |  FROM tk2 WHERE len(toks) >= 8),
             |occ AS (SELECT doc_id, p,
             |    ROW_NUMBER() OVER (PARTITION BY sp ORDER BY doc_id, p) AS rn
             |  FROM spx),
             |rem AS (SELECT doc_id, p FROM occ WHERE rn >= 2),
             |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS p FROM rem),
             |ncov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_span_removed
             |  FROM cov GROUP BY doc_id),
             |tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
             |    unnest(toks) AS tok FROM tk2),
             |kept AS (SELECT tok.doc_id, tok.p, tok.tok
             |  FROM tok ANTI JOIN cov USING (doc_id, p)),
             |re AS (SELECT doc_id,
             |    COALESCE(array_to_string(list(tok ORDER BY p), ' '), '') AS clean_text
             |  FROM kept GROUP BY doc_id),
             |scrubbed AS (SELECT tk2.doc_id, tk2.source, tk2.n_pii, tk2.n_seg_removed,
             |  COALESCE(ncov.n_span_removed, 0) AS n_span_removed,
             |  CAST(len(tk2.toks) AS BIGINT) - COALESCE(ncov.n_span_removed, 0)
             |    AS n_toks_final,
             |  COALESCE(re.clean_text, '') AS clean_text
             |FROM tk2 LEFT JOIN ncov USING (doc_id) LEFT JOIN re USING (doc_id))""".stripMargin
}
