package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.3 — text analysis + text dedup for training-data pipelines.
  * All heuristics are pure integer/rational arithmetic over built-in
  * (codegen'd) collection functions, so DuckDB oracles reproduce results
  * bit-for-bit; nothing here shuffles except the final pair joins, and
  * candidate generation is blocked (linear, never O(n²)). */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** Memoized 3-gram shingle + MinHash signature tables over all documents,
    * (session, dir)-scoped — the materialized snapshot both 3-gram near-dup
    * consumers (dd_ngram_jaccard, dd_pipeline) read. Shingles/signatures
    * are doc-local, so a consumer over a doc SUBSET just semi-joins the
    * shared table instead of recomputing the signature build. */
  /** Materialize the shared 3-gram signature snapshot (idempotent; bench
    * warmup calls this for the same index-build-amortization reason as
    * Similarity.warmSharedIndex). */
  def warmGram3(s: SparkSession, d: String): Unit = { gram3(s, d)._2.count(); () }

  private[operators] def gram3(s: SparkSession, d: String) = {
    // sh is NOT persisted: columnar-caching a ~3 KB array<string> column
    // scans slower than recomputing the codegen'd char_shingles from the
    // parquet text (measured; nested-type cache scans also fall out of
    // whole-stage codegen). The fixed-width 64-long signature table IS
    // worth pinning — memoized + tracked in OpCache (sh is a pure lazy
    // plan, so rebuilding it per call costs nothing).
    val sh = Tables.widened(s, d, "documents").select(col("doc_id"),
      expr("char_shingles(text, 3)").as("sh"))
    val sigs = OpCache.memo(s, "gram3sigs|" + d)(
      sh.withColumn("sig", expr("minhash_sig(sh)"))
        .select("doc_id", "sig").persist())
    (sh, sigs)
  }

  /** Non-empty whitespace tokens. */
  private val toksExpr = "filter(split(text, ' '), t -> t <> '')"
  private val stopSet = "('the','a','of','and','to')"

  val defs: Seq[GraftQuery] = Seq(

    // 50. token counting: whitespace tokens + BPE-ish regex tokens.
    GraftQuery("ta_tokens",
      (s, d) => docs(s, d).select(
        col("doc_id"),
        expr(s"size($toksExpr)").cast("long").as("n_ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").as("n_re_tokens"),
        length(col("text")).cast("long").as("len")),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_re_tokens,
             |  CAST(length(text) AS BIGINT) AS len
             |FROM documents""".stripMargin)),

    // 48. language ID: stopword-hit heuristic (deterministic rational math).
    GraftQuery("ta_langid",
      (s, d) => docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          expr(s"size(filter(toks, t -> t IN $stopSet))").cast("long").as("en_hits"),
          expr("size(toks)").cast("long").as("n_toks"))
        .withColumn("pred_lang",
          when(col("en_hits") / col("n_toks") >= 0.15, "en")
            .when(col("en_hits") / col("n_toks") >= 0.05, "en_low")
            .otherwise("unk")),
      Some(s"""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(list_filter(toks, t -> t IN $stopSet)) AS BIGINT) AS en_hits,
             |  CAST(len(toks) AS BIGINT) AS n_toks,
             |  CASE WHEN CAST(len(list_filter(toks, t -> t IN $stopSet)) AS BIGINT)
             |            / CAST(len(toks) AS BIGINT) >= 0.15 THEN 'en'
             |       WHEN CAST(len(list_filter(toks, t -> t IN $stopSet)) AS BIGINT)
             |            / CAST(len(toks) AS BIGINT) >= 0.05 THEN 'en_low'
             |       ELSE 'unk' END AS pred_lang
             |FROM t""".stripMargin)),

    // 49. quality scoring: uniqueness/length/token-shape ratios combined in
    // a fixed double-arithmetic order (bit-identical across engines).
    GraftQuery("ta_quality",
      (s, d) => docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", expr("size(toks)").cast("long"))
        .withColumn("n_uniq", expr("size(array_distinct(toks))").cast("long"))
        .withColumn("sum_len",
          expr("aggregate(transform(toks, t -> length(t)), 0L, (s, x) -> s + x)"))
        .select(
          col("doc_id"), col("n_toks"),
          (col("n_uniq") / col("n_toks")).as("uniq_ratio"),
          (lit(0.4) * (col("n_uniq") / col("n_toks"))
            + lit(0.3) * least(col("n_toks") / lit(200.0), lit(1.0))
            + lit(0.3) * least(col("sum_len") / col("n_toks") / lit(10.0), lit(1.0)))
            .as("quality")),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_toks,
             |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
             |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len
             |  FROM t)
             |SELECT doc_id, n_toks,
             |  n_uniq / n_toks AS uniq_ratio,
             |  0.4 * (n_uniq / n_toks)
             |    + 0.3 * least(n_toks / 200.0, 1.0)
             |    + 0.3 * least(sum_len / n_toks / 10.0, 1.0) AS quality
             |FROM m""".stripMargin)),

    // 51. document fingerprint: normalized md5 + 64-bit prefix.
    GraftQuery("ta_fingerprint",
      (s, d) => docs(s, d).select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 16).as("fp64")),
      Some("""SELECT doc_id, md5(text) AS fp,
             |  SUBSTR(md5(text), 1, 16) AS fp64 FROM documents""".stripMargin)),

    // 41. exact dedup: content-hash groupBy, keep min doc_id per group.
    // (Map-side partial agg; at 100 TB this is one shuffle on the 128-bit
    // content hash — the canonical exact-dedup plan.)
    GraftQuery("dd_exact",
      (s, d) => docs(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // 44. n-gram Jaccard verification over LSH-banded candidate pairs:
    // MinHash signatures over char-3-gram shingles, 8×8 banding for
    // candidates (the generator you'd actually run on a real corpus, where
    // near-dups are NOT id-adjacent), exact-Jaccard verify >= 0.8. The
    // md5 hash family makes the whole pipeline SQL-reproducible.
    // Thresholds are tuned to the corpus: background 3-gram Jaccard of
    // unrelated docs has p99 ≈ 0.64 (3-grams of same-language text overlap
    // heavily), true near-dups sit ≥ 0.8 — so 8 rows/band keeps background
    // collisions at ~0.2% of pairs while ~0.99-similar dups always collide
    // (a 4-row band at a 0.62 threshold degenerates to ~40% of ALL pairs).
    GraftQuery("dd_ngram_jaccard", (s, d) => {
      val (sh, sigs) = gram3(s, d) // shared snapshot feeds both join sides
      // prefilter on 64-long signature agreement before the shingle arrays
      // (a shingle set is ~3 KB/row vs 512 B of signature — the band
      // false-positive majority never touches the heavy side)
      val pre = OpCache.track(s,
        Similarity.bandCandidates(sigs, "doc_id", bands = 8, rows = 8)
          .join(sigs.select(col("doc_id").as("ia"), col("sig").as("siga")), "ia")
          .join(sigs.select(col("doc_id").as("ib"), col("sig").as("sigb")), "ib")
          .withColumn("est", expr(
            "sig_agree(siga, sigb) / CAST(64 AS DOUBLE)"))
          .filter(col("est") >= 0.65)
          .select("ia", "ib")
          .persist())
      // candidate-bounded verify (guide §3.2, the Similarity.mhVerify
      // shape): the 3-gram shingle arrays (~3 KB/row) are recomputed and
      // shuffled ONLY for docs in a surviving candidate pair — the
      // broadcast semi-join pushes below char_shingles to the scan, so
      // the two former corpus-wide shingle passes collapse to the
      // banding-bounded candidate set. pre is pinned because the id-set
      // build and the pair join both read it.
      // no forced broadcast: blowup-safe (the mhVerify rationale) — AQE
      // broadcasts at runtime from the actual id-set size when small
      val ids = pre.select(col("ia").as("doc_id"))
        .union(pre.select(col("ib").as("doc_id"))).distinct()
      val shc = sh.join(ids, Seq("doc_id"), "left_semi")
      pre
        .join(shc.select(col("doc_id").as("ia"), col("sh").as("sha")), "ia")
        .join(shc.select(col("doc_id").as("ib"), col("sh").as("shb")), "ib")
        .withColumn("jacc", expr("jaccard_sim(sha, shb)"))
        .filter(col("jacc") >= 0.8)
        .select("ia", "ib", "jacc")
    },
      Some(s"""WITH d AS (${DuckSql.shingles("documents", "doc_id", 3)}),
             |${DuckSql.sigCtes("doc_id")},
             |${DuckSql.bandCtes("doc_id", nBands = 8, nRows = 8)},
             |pre AS (SELECT ia, ib FROM cand
             |  JOIN sl sa ON sa.doc_id = cand.ia
             |  JOIN sl sb ON sb.doc_id = cand.ib
             |  WHERE ${DuckSql.sigAgree("sa.sig", "sb.sig")} >= 0.65),
             |v AS (SELECT ia, ib, ${DuckSql.jacc("da.sh", "db.sh")} AS jacc
             |  FROM pre JOIN d da ON da.doc_id = pre.ia JOIN d db ON db.doc_id = pre.ib)
             |SELECT ia, ib, jacc FROM v WHERE jacc >= 0.8""".stripMargin)),

    // Gopher/C4-style repetition signal: fraction of all word 2-grams taken
    // by the most frequent one (high ⇒ boilerplate/spam). One pass of the
    // native top_bigram_stats expression (hash map per row) — no explode,
    // no shuffle at all: the explode form would double the corpus through
    // two aggregations at 100 TB. Exact ints, so the explode/aggregate
    // oracle still matches bit-for-bit.
    GraftQuery("ta_repetition", (s, d) => {
      docs(s, d)
        .withColumn("st", expr("top_bigram_stats(text)"))
        .filter(col("st.n_grams") > 0)
        .select(col("doc_id"), col("st.n_grams").as("n_grams"),
          col("st.top_gram_n").as("top_gram_n"))
        .withColumn("top_gram_frac", col("top_gram_n") / col("n_grams"))
    },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    unnest(list_transform(range(1, len(toks)),
             |      i -> toks[i] || ' ' || toks[i + 1])) AS g
             |  FROM t),
             |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
             |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
             |  CAST(MAX(c) AS BIGINT) AS top_gram_n,
             |  CAST(MAX(c) AS BIGINT) / CAST(SUM(c) AS BIGINT) AS top_gram_frac
             |FROM c GROUP BY doc_id""".stripMargin)),

    // benchmark decontamination: flag training docs sharing >= 5 distinct
    // char-8-grams with any doc of a benchmark set (stand-in: doc_id % 97
    // == 0 — in production the eval suites). The benchmark shingle set is
    // small → broadcast semi-join: the corpus-side scan streams through
    // map-side containment checks, nothing shuffles the corpus. This is
    // the standard eval-contamination gate every training pipeline runs.
    //
    // MEASURED ALTERNATIVE (r13, kept as a negative result — SURVEY §5):
    // an in-expression fold (native gram_hits: per-doc distinct grams
    // binary-searched in a one-row broadcast of the sorted bench array,
    // never materializing the gram row stream) was hypothesized to beat
    // this shape at sf10 and measured 3.3× SLOWER (132 s vs 40.5 s pooled
    // min): log2(7.4M) ≈ 23 cache-missing probes per gram lose to the
    // broadcast hash join's single hash probe, and the row-stream
    // materialization this avoids was never the dominant term. The
    // expression ships (spec-pinned parity incl. non-BMP) for callers
    // with SMALL gram sets; this entry keeps the measured-faster join.
    GraftQuery("dd_decontaminate", (s, d) => {
      val all = docs(s, d)
      val bench = all.filter(col("doc_id") % 97 === 0)
        .select(explode(expr("char_shingles(text, 8)")).as("sg")).distinct()
      val hits = all.select(col("doc_id"), explode(expr("char_shingles(text, 8)")).as("sg"))
        .join(broadcast(bench), Seq("sg"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      all.select("doc_id").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) >= 5).as("contaminated"))
    },
      Some("""WITH sh AS (SELECT doc_id,
             |    list_distinct(list_transform(range(1, length(text) - 6),
             |      i -> substr(text, i, 8))) AS sh
             |  FROM documents),
             |bs AS (SELECT DISTINCT unnest(sh) AS sg FROM sh WHERE doc_id % 97 = 0),
             |tr AS (SELECT doc_id, unnest(sh) AS sg FROM sh),
             |h AS (SELECT doc_id, COUNT(*) AS n_hits FROM tr JOIN bs USING (sg)
             |  GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
             |  COALESCE(h.n_hits, 0) >= 5 AS contaminated
             |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin)),

    // corpus vocabulary: global token frequency + document frequency,
    // top-100 by count — the wordcount-shaped profile every tokenizer
    // build starts from. One explode, one partial-aggregated groupBy, and
    // a TakeOrdered top-k (no global sort) — linear at any corpus size.
    GraftQuery("ta_vocab", (s, d) => {
      docs(s, d)
        .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(100)
    },
      Some("""WITH t AS (SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |  FROM documents)
             |SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
             |FROM t GROUP BY tok
             |ORDER BY n DESC, tok LIMIT 100""".stripMargin)),

    // capstone: the full training-data cleaning pipeline as ONE declarative
    // plan — exact dedup → near-dup removal (MinHash-LSH banded candidates
    // + 3-gram Jaccard verify, drop the later doc of each pair) → language
    // filter → quality floor. Every stage — including the LSH banding —
    // is SQL-expressible, so the whole pipeline is oracle-checked end to
    // end with the candidate generator you'd actually run at 100 TB.
    GraftQuery("dd_pipeline", (s, d) => {
      val base = docs(s, d)
      // 1. exact dedup: keep the earliest doc per content hash. The kept-id
      // set feeds four branches (kept docs, shingle restrict, signature
      // restrict, final gates) — persist the bare ids so the md5 groupBy
      // runs once (a flat long column caches well, unlike shingle arrays).
      val keepIds = OpCache.track(s, base.groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id").persist())
      val kept = base.join(keepIds, "doc_id")
      // 2. near-dup removal: drop the later doc of each verified pair.
      // Shingles/signatures are doc-local → restrict the SHARED 3-gram
      // snapshot to the kept ids rather than re-running the signature build
      val (shAll, sigsAll) = gram3(s, d)
      val sigs = sigsAll.join(keepIds, "doc_id")
      val preP = OpCache.track(s,
        Similarity.bandCandidates(sigs, "doc_id", bands = 8, rows = 8)
          .join(sigs.select(col("doc_id").as("ia"), col("sig").as("siga")), "ia")
          .join(sigs.select(col("doc_id").as("ib"), col("sig").as("sigb")), "ib")
          .withColumn("est", expr(
            "sig_agree(siga, sigb) / CAST(64 AS DOUBLE)"))
          .filter(col("est") >= 0.65)
          .select("ia", "ib")
          .persist())
      // candidate-bounded verify (the dd_ngram_jaccard / mhVerify shape):
      // shingles recompute + shuffle only for docs in a candidate pair.
      // Candidate ids come from kept-restricted signatures, so they are
      // ⊆ kept by construction and need no second keepIds gate.
      // no forced broadcast: blowup-safe (the mhVerify rationale) — AQE
      // broadcasts at runtime from the actual id-set size when small
      val ids = preP.select(col("ia").as("doc_id"))
        .union(preP.select(col("ib").as("doc_id"))).distinct()
      val shc = shAll.join(ids, Seq("doc_id"), "left_semi")
      val dupIb = preP
        .join(shc.select(col("doc_id").as("ia"), col("sh").as("sha")), "ia")
        .join(shc.select(col("doc_id").as("ib"), col("sh").as("shb")), "ib")
        .filter(expr("jaccard_sim(sha, shb)") >= 0.8)
        .select(col("ib").as("doc_id")).distinct()
      val deduped = kept.join(dupIb, Seq("doc_id"), "left_anti")
      // 3+4. language + quality gates (same rationals as ta_langid/ta_quality)
      deduped
        .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
        .withColumn("n_toks", expr("size(toks)").cast("long"))
        .withColumn("stop_ratio",
          expr("size(filter(toks, t -> t IN ('the','a','of','and','to')))").cast("long")
            / col("n_toks"))
        .withColumn("quality",
          lit(0.4) * (expr("size(array_distinct(toks))").cast("long") / col("n_toks"))
            + lit(0.3) * least(col("n_toks") / lit(200.0), lit(1.0))
            + lit(0.3) * least(
              expr("aggregate(transform(toks, t -> length(t)), 0L, (s, x) -> s + x)")
                / col("n_toks") / lit(10.0), lit(1.0)))
        .filter(col("stop_ratio") >= 0.05 && col("quality") >= 0.5)
        .select("doc_id", "n_toks", "quality")
    },
      Some(s"""WITH keep AS (
             |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
             |kept AS (
             |  SELECT dd.* FROM documents dd JOIN keep USING (doc_id)),
             |d AS (${DuckSql.shingles("kept", "doc_id", 3)}),
             |${DuckSql.sigCtes("doc_id")},
             |${DuckSql.bandCtes("doc_id", nBands = 8, nRows = 8)},
             |pre AS (SELECT ia, ib FROM cand
             |  JOIN sl sa ON sa.doc_id = cand.ia
             |  JOIN sl sb ON sb.doc_id = cand.ib
             |  WHERE ${DuckSql.sigAgree("sa.sig", "sb.sig")} >= 0.65),
             |dup AS (
             |  SELECT DISTINCT ib AS doc_id FROM pre
             |  JOIN d da ON da.doc_id = pre.ia JOIN d db ON db.doc_id = pre.ib
             |  WHERE ${DuckSql.jacc("da.sh", "db.sh")} >= 0.8),
             |deduped AS (
             |  SELECT k.* FROM kept k ANTI JOIN dup USING (doc_id)),
             |t AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM deduped),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_toks,
             |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS BIGINT)
             |      / CAST(len(toks) AS BIGINT) AS stop_ratio,
             |    0.4 * (CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT))
             |      + 0.3 * least(CAST(len(toks) AS BIGINT) / 200.0, 1.0)
             |      + 0.3 * least(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
             |                    / CAST(len(toks) AS BIGINT) / 10.0, 1.0) AS quality
             |  FROM t)
             |SELECT doc_id, n_toks, quality FROM m
             |WHERE stop_ratio >= 0.05 AND quality >= 0.5""".stripMargin)),

    // the PRODUCTION composition of the same pipeline: near-dup removal
    // consumes the shared materialized 5-gram MinHash pair INDEX
    // (Similarity.minhashPairs — built once, read by every consumer)
    // instead of re-running banding inline. This is how the stages compose
    // at 100 TB: index construction amortizes across runs, the daily
    // pipeline is exact-dedup + one anti-join against the index + map-only
    // gates — and, unlike the 3-gram capstone above, the 5-gram banding
    // threshold sits far above corpus background similarity, so candidate
    // volume has no heavy hash-draw tail (see BENCH_sf1.json findings).
    GraftQuery("dd_pipeline_indexed", (s, d) => {
      val base = docs(s, d)
      val keepIds = base.groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val dupIb = Similarity.minhashPairs(s, d)
        .select(col("ib").as("doc_id")).distinct()
      base.join(keepIds, "doc_id")
        .join(dupIb, Seq("doc_id"), "left_anti")
        .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
        .withColumn("n_toks", expr("size(toks)").cast("long"))
        .withColumn("stop_ratio",
          expr("size(filter(toks, t -> t IN ('the','a','of','and','to')))").cast("long")
            / col("n_toks"))
        .withColumn("quality",
          lit(0.4) * (expr("size(array_distinct(toks))").cast("long") / col("n_toks"))
            + lit(0.3) * least(col("n_toks") / lit(200.0), lit(1.0))
            + lit(0.3) * least(
              expr("aggregate(transform(toks, t -> length(t)), 0L, (s, x) -> s + x)")
                / col("n_toks") / lit(10.0), lit(1.0)))
        .filter(col("stop_ratio") >= 0.05 && col("quality") >= 0.5)
        .select("doc_id", "n_toks", "quality")
    },
      Some(s"""${Similarity.minhashPairsSql},
             |keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
             |dup AS (SELECT DISTINCT ib AS doc_id FROM p),
             |deduped AS (SELECT dd.* FROM documents dd
             |  JOIN keep USING (doc_id) ANTI JOIN dup USING (doc_id)),
             |t AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM deduped),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_toks,
             |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS BIGINT)
             |      / CAST(len(toks) AS BIGINT) AS stop_ratio,
             |    0.4 * (CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT))
             |      + 0.3 * least(CAST(len(toks) AS BIGINT) / 200.0, 1.0)
             |      + 0.3 * least(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
             |                    / CAST(len(toks) AS BIGINT) / 10.0, 1.0) AS quality
             |  FROM t)
             |SELECT doc_id, n_toks, quality FROM m
             |WHERE stop_ratio >= 0.05 AND quality >= 0.5""".stripMargin))
  )
}
