package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.3 — corpus CURATION DECISIONS: the stage after measurement
  * (ta_quality, dd_cluster) where a training pipeline actually chooses
  * what to keep, what to hold out, and what to report. Reference scope
  * analog: the reference exposes raw tables and leaves curation to SQL
  * (`test.sql` composes filters by hand); here each decision is a
  * first-class operator with a DuckDB oracle.
  *
  * Float determinism: same discipline as TextOps/TextOps2 — integer
  * aggregation first (order-insensitive, exact), then ONE fixed-shape
  * double expression per row, and no transcendentals (ta_bm25 uses the
  * rational Robertson idf (N-df+0.5)/(df+0.5)+1 WITHOUT the ln() of
  * textbook BM25: ln is not correctly-rounded and differs between java
  * Math.log and DuckDB's libm, while +*-/ are IEEE-exact — the ranking
  * is order-isomorphic for single-term weights and bit-identical across
  * engines). */
object Curation {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  private val toksExpr = "filter(split(text, ' '), t -> t <> '')"

  /** Per-doc rational quality score — the exact ta_quality formula
    * (TextOps.scala) reused as the canonical-member ranking key. */
  private def qualityCol: Column =
    (lit(0.4) * (col("n_uniq") / col("n_toks"))
      + lit(0.3) * least(col("n_toks") / lit(200.0), lit(1.0))
      + lit(0.3) * least(col("sum_len") / col("n_toks") / lit(10.0), lit(1.0)))

  private def withQuality(df: DataFrame): DataFrame = df
    .withColumn("toks", expr(toksExpr))
    .withColumn("n_toks", expr("size(toks)").cast("long"))
    .withColumn("n_uniq", expr("size(array_distinct(toks))").cast("long"))
    .withColumn("sum_len",
      expr("aggregate(transform(toks, t -> length(t)), 0L, (s, x) -> s + x)"))
    .select(col("doc_id"), qualityCol.as("quality"))

  private val qualitySqlCtes =
    """tq AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents),
      |qm AS (SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_toks,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len
      |  FROM tq),
      |q AS (SELECT doc_id,
      |    0.4 * (n_uniq / n_toks)
      |      + 0.3 * least(n_toks / 200.0, 1.0)
      |      + 0.3 * least(sum_len / n_toks / 10.0, 1.0) AS quality
      |  FROM qm)""".stripMargin

  // ta_bm25 constants (Okapi k1/b; idf is the rational variant, see class doc)
  private val bmTerms = Seq("spark", "join", "scan")
  private val bmK1 = 1.2
  private val bmB = 0.75

  /** md5(source:doc_id)-bucketed 80/10/10 assignment (see ta_split). */
  private def splitAssign(df: DataFrame): DataFrame = df
    .withColumn("bucket",
      conv(substring(md5(concat(col("source"), lit(":"),
        col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100)
    .withColumn("split",
      when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val").otherwise("test"))

  /** DuckDB CTE chain mirroring splitAssign; ends with
    * `sp(doc_id, source, bucket, split)`. */
  private val splitSqlCtes =
    s"""h AS (SELECT doc_id, source,
       |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS m
       |  FROM documents),
       |b AS (SELECT doc_id, source,
       |    ${Relational.duckHex8("m", 1)} % 100 AS bucket FROM h),
       |sp AS (SELECT doc_id, source, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM b)""".stripMargin

  /** minhashPairsSql (ends with `p`) extended with the split CTEs. */
  private def minhashPairsWithSplitSql: String =
    s"""${Similarity.minhashPairsSql},
       |$splitSqlCtes""".stripMargin

  /** One BM25 term of the oracle score. Every numeric literal is CAST to
    * DOUBLE: DuckDB parses bare `2.2` as DECIMAL(2,1), and a
    * BIGINT×DECIMAL multiply stays in exact decimal arithmetic — 1-2 ulp
    * off Spark's double×double (measured on tf=3: 6.6 vs
    * 6.6000000000000005). With the casts both engines run the identical
    * IEEE op sequence. */
  private def bmTermSql(tf: String, df: String): String = {
    def D(x: Double) = s"CAST($x AS DOUBLE)"
    s"((n_docs - $df + ${D(0.5)}) / ($df + ${D(0.5)}) + ${D(1.0)})" +
      s" * ($tf * ${D(bmK1 + 1.0)})" +
      s" / ($tf + ${D(bmK1)} * (${D(1.0 - bmB)} + (${D(bmB)} * dlen) / avgdl))"
  }

  val defs: Seq[GraftQuery] = Seq(

    // 152. near-dup cluster CANONICALIZATION: dedup that keeps the BEST
    // member of each cluster (by ta_quality score, min doc_id on ties),
    // not an arbitrary one — the FineWeb/Dolma-style "representative
    // selection" step dd_cluster stops short of. Plan shape at scale:
    // quality is a map-only projection over the corpus; the argmax
    // groupBys run only over the CLUSTERED subset (docs that appear in
    // the verified pair graph — a small fraction of any real corpus);
    // the final keep_id join key is one row per cluster, broadcast-sized.
    // Singletons never enter a shuffle: their cluster_id and keep flag
    // come from coalesce() on the left joins.
    GraftQuery("dd_canonical", (s, d) => {
      val q = withQuality(docs(s, d))
      val labels = Similarity.minhashLabels(s, d) // memoized shared label index
        .withColumnRenamed("id", "doc_id")
      val clustered = labels.join(q, "doc_id")
      val qmax = clustered.groupBy("label").agg(max("quality").as("qmax"))
      val keep = clustered.join(qmax, "label")
        .filter(col("quality") === col("qmax"))
        .groupBy("label").agg(min("doc_id").as("keep_id"))
      q.join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
        .join(broadcast(keep.withColumnRenamed("label", "cluster_id")),
          Seq("cluster_id"), "left")
        .select(col("doc_id"), col("cluster_id"), col("quality"),
          coalesce(col("doc_id") === col("keep_id"), lit(true)).as("keep"))
    },
      Some(s"""${Similarity.minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
             |${DuckSql.reachCc("p", "doc_id", "label")},
             |$qualitySqlCtes,
             |cl AS (SELECT cc.label, q.doc_id, q.quality
             |  FROM cc JOIN q USING (doc_id)),
             |bq AS (SELECT label, MAX(quality) AS qmax FROM cl GROUP BY label),
             |keep AS (SELECT cl.label, MIN(cl.doc_id) AS keep_id
             |  FROM cl JOIN bq ON cl.label = bq.label AND cl.quality = bq.qmax
             |  GROUP BY cl.label)
             |SELECT q.doc_id, COALESCE(cc.label, q.doc_id) AS cluster_id,
             |  q.quality,
             |  COALESCE(q.doc_id = keep.keep_id, TRUE) AS keep
             |FROM q LEFT JOIN cc USING (doc_id)
             |LEFT JOIN keep ON keep.label = cc.label""".stripMargin)),

    // 153. BM25 retrieval scoring: top-10 docs for a fixed 3-term query —
    // the relevance-ranking shape of every eval-set / decontamination
    // retrieval pass (ta_tfidf ranks terms WITHIN a doc; this ranks DOCS
    // for a query). Exact-integer aggregation (tf per term via
    // conditional sums, df + corpus stats in one scalar row, broadcast),
    // then one fixed-shape double expression and a distributed
    // TakeOrdered top-10 — no global sort, no float-sum ordering hazard
    // (per-term scores are summed in fixed lexical order, not via a
    // float groupBy).
    GraftQuery("ta_bm25", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.widened(s, d, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      val per = tok.groupBy("doc_id").agg(
        count(lit(1)).as("dlen"),
        sum(when(col("token") === bmTerms(0), 1L).otherwise(0L)).as("tf1"),
        sum(when(col("token") === bmTerms(1), 1L).otherwise(0L)).as("tf2"),
        sum(when(col("token") === bmTerms(2), 1L).otherwise(0L)).as("tf3"))
      val glob = per.agg(
        count(lit(1)).as("n_docs"),
        sum("dlen").as("sum_dlen"),
        sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
        sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
        sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
      def term(tf: String, df: String): Column =
        ((col("n_docs") - col(df) + lit(0.5)) / (col(df) + lit(0.5)) + lit(1.0)) *
          (col(tf) * lit(bmK1 + 1.0)) /
          (col(tf) + lit(bmK1) *
            (lit(1.0 - bmB) + (lit(bmB) * col("dlen")) / col("avgdl")))
      val scored = per.crossJoin(broadcast(glob))
        .filter(col("tf1") + col("tf2") + col("tf3") > 0)
        .withColumn("avgdl", col("sum_dlen").cast("double") / col("n_docs"))
        .withColumn("score",
          term("tf1", "df1") + term("tf2", "df2") + term("tf3", "df3"))
      scored.orderBy(col("score").desc, col("doc_id")).limit(10)
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("rk", "doc_id", "score")
    },
      Some(s"""WITH tok AS (SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
             |  FROM documents),
             |per AS (SELECT doc_id, COUNT(*) AS dlen,
             |    CAST(SUM(CASE WHEN token = '${bmTerms(0)}' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
             |    CAST(SUM(CASE WHEN token = '${bmTerms(1)}' THEN 1 ELSE 0 END) AS BIGINT) AS tf2,
             |    CAST(SUM(CASE WHEN token = '${bmTerms(2)}' THEN 1 ELSE 0 END) AS BIGINT) AS tf3
             |  FROM tok GROUP BY doc_id),
             |gs AS (SELECT COUNT(*) AS n_docs,
             |    CAST(SUM(dlen) AS BIGINT) AS sum_dlen,
             |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             |    CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
             |  FROM per),
             |sc AS (SELECT per.doc_id,
             |    CAST(sum_dlen AS DOUBLE) / n_docs AS avgdl,
             |    per.dlen, per.tf1, per.tf2, per.tf3,
             |    gs.n_docs, gs.df1, gs.df2, gs.df3
             |  FROM per CROSS JOIN gs
             |  WHERE per.tf1 + per.tf2 + per.tf3 > 0),
             |scored AS (SELECT doc_id,
             |    ${(1 to 3).map(i => bmTermSql(s"tf$i", s"df$i")).mkString("\n             |    + ")} AS score
             |  FROM sc),
             |top AS (SELECT doc_id, score,
             |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM scored)
             |SELECT CAST(rk AS BIGINT) AS rk, doc_id, score
             |FROM top WHERE rk <= 10""".stripMargin)),

    // 154. deterministic stratified train/val/test split (80/10/10):
    // hash-bucketed WITHIN source (the salt is source||':'||doc_id) so
    // every source lands 80/10/10 regardless of doc_id layout — the
    // held-out-split contract reproducible across engines, runs and
    // repartitionings (rand()-based splits are none of those). Pure
    // per-row projection: pushes to the scan, no shuffle, no state.
    GraftQuery("ta_split",
      (s, d) => splitAssign(docs(s, d))
        .select("doc_id", "source", "bucket", "split"),
      Some(s"""WITH $splitSqlCtes
             |SELECT doc_id, source, bucket, split FROM sp""".stripMargin)),

    // 156. split-LEAKAGE audit: verified near-dup pairs that straddle a
    // split boundary — the post-split check that no test/val doc has a
    // near-duplicate in train (near-dups leak evaluation answers even
    // after exact dedup). Reuses the shared verified-pair index
    // (bounded by banding, linear in N) and the ta_split assignment;
    // the pair table is the SMALL side of both doc_id joins, so the
    // corpus-side split projection shuffles only its two key columns.
    // Empty output = a clean split; rows name the offending pairs.
    GraftQuery("dd_split_leak", (s, d) => {
      val sp = splitAssign(docs(s, d)).select("doc_id", "split")
      Similarity.minhashPairs(s, d).select("ia", "ib", "jacc")
        .join(sp.withColumnRenamed("doc_id", "ia")
          .withColumnRenamed("split", "split_a"), "ia")
        .join(sp.withColumnRenamed("doc_id", "ib")
          .withColumnRenamed("split", "split_b"), "ib")
        .filter(col("split_a") =!= col("split_b"))
        .select("ia", "ib", "jacc", "split_a", "split_b")
    },
      Some(s"""$minhashPairsWithSplitSql
             |SELECT p.ia, p.ib, p.jacc, sa.split AS split_a, sb.split AS split_b
             |FROM p JOIN sp sa ON sa.doc_id = p.ia
             |JOIN sp sb ON sb.doc_id = p.ib
             |WHERE sa.split <> sb.split""".stripMargin)),

    // 155. per-source DATA CARD: the one-row-per-source datasheet every
    // corpus release ships (counts, token mass, exact-dup rate, language
    // spread, length envelope). One partial-aggregated groupBy — integer
    // sums only (order-exact), the three reported ratios derived from
    // them in fixed-shape double expressions. Shuffles ~n_sources rows.
    GraftQuery("ta_source_stats",
      (s, d) => docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", expr("size(toks)").cast("long"))
        .withColumn("n_uniq", expr("size(array_distinct(toks))").cast("long"))
        .withColumn("th", md5(col("text")))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_toks").as("n_tokens"),
          countDistinct("th").as("n_unique_texts"),
          countDistinct("lang").as("n_langs"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          sum("n_uniq").as("sum_uniq"))
        .withColumn("mean_doc_tokens",
          col("n_tokens").cast("double") / col("n_docs"))
        .withColumn("exact_dup_rate",
          lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"))
        .withColumn("uniq_token_ratio",
          col("sum_uniq").cast("double") / col("n_tokens"))
        .select("source", "n_docs", "n_tokens", "n_unique_texts", "n_langs",
          "min_chars", "max_chars", "mean_doc_tokens", "exact_dup_rate",
          "uniq_token_ratio"),
      Some("""WITH t AS (SELECT doc_id, source, lang, n_chars, text,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |m AS (SELECT source, lang, n_chars, md5(text) AS th,
             |    CAST(len(toks) AS BIGINT) AS n_toks,
             |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
             |  FROM t),
             |g AS (SELECT source,
             |    COUNT(*) AS n_docs,
             |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             |    COUNT(DISTINCT th) AS n_unique_texts,
             |    COUNT(DISTINCT lang) AS n_langs,
             |    MIN(n_chars) AS min_chars,
             |    MAX(n_chars) AS max_chars,
             |    CAST(SUM(n_uniq) AS BIGINT) AS sum_uniq
             |  FROM m GROUP BY source)
             |SELECT source, n_docs, n_tokens, n_unique_texts, n_langs,
             |  min_chars, max_chars,
             |  CAST(n_tokens AS DOUBLE) / n_docs AS mean_doc_tokens,
             |  1.0 - CAST(n_unique_texts AS DOUBLE) / n_docs AS exact_dup_rate,
             |  CAST(sum_uniq AS DOUBLE) / n_tokens AS uniq_token_ratio
             |FROM g""".stripMargin)),

    // 157. LM-based quality score (the perplexity-filter shape of
    // CCNet/Gopher-style curation, reduced to an exactly-reproducible
    // core): train a char-bigram model ON the corpus (add-one smoothing,
    // smoothing width = distinct-bigram count), then score every doc by
    // its mean bigram probability. Scale shape is the production one:
    // the MODEL is alphabet-bounded (|Σ|² entries — ~5k ascii, never
    // corpus-sized; a unicode corpus would bucket rare chars into an OOV
    // symbol before this bound matters) and broadcasts as one row of
    // sorted parallel arrays, so scoring is one map-only codegen'd pass
    // (native bigram_lm_score, binary-search lookups); training is one
    // map-side-combined count shuffle of alphabet-bounded width. Float
    // parity: each per-position probability is one integer-derived
    // double division, and the per-doc mean folds those doubles in
    // POSITION order on both engines (the native expression's ascending
    // walk vs DuckDB list(prob ORDER BY pos) + list_reduce) — the same
    // strict-left-fold discipline as dot_product/duckDot.
    GraftQuery("ta_ngram_lm", (s, d) => {
      val docsW = Tables.widened(s, d, "documents")
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), col("text"))
      val counts = docsW.select(explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
      val prefix = counts.groupBy(substring(col("bg"), 1, 1).as("a"))
        .agg(sum("c").as("ca"))
      // model as SORTED parallel arrays (not maps): element_at on a
      // broadcast map is a linear ArrayBasedMapData scan — O(N·|Σ|²)
      // corpus-wide, 26.8 s of the sf1 bench — while the native
      // bigram_lm_score binary-searches the sorted keys (O(N·log|Σ|²),
      // measured 10×). Sort order is the same binary UTF8 ordering the
      // expression's compareTo uses.
      val model = counts.agg(
          expr("transform(array_sort(collect_list(struct(bg, c))), x -> x.bg)").as("bkeys"),
          expr("transform(array_sort(collect_list(struct(bg, c))), x -> x.c)").as("bcnts"),
          count(lit(1)).as("v"))
        .crossJoin(prefix.agg(
          expr("transform(array_sort(collect_list(struct(a, ca))), x -> x.a)").as("pkeys"),
          expr("transform(array_sort(collect_list(struct(a, ca))), x -> x.ca)").as("pcnts")))
      docsW.crossJoin(broadcast(model))
        .withColumn("r", expr(
          "bigram_lm_score(text, struct(bkeys, bcnts, pkeys, pcnts, v))"))
        .select(col("doc_id"), col("r.n_bg").as("n_bg"),
          col("r.lm_score").as("lm_score"))
    },
      // Oracle shape note: the model CTEs (c, p) are alphabet-bounded like
      // the Spark side; scoring looks probs up from one MAP row inside
      // list_transform over the doc-ordered bigram list. The earlier form
      // (corpus-sized positions JOIN counts, then list(prob ORDER BY pos))
      // re-sorted ~15M rows per 50k docs and OOM'd DuckDB at sf1; this one
      // never materializes a corpus×model join and is bit-identical
      // (verified at sf0.1) because each prob is the same single integer-
      // derived double division, folded in the same position order.
      Some("""WITH bg AS (SELECT doc_id,
             |    list_transform(range(1, length(text)), i -> substring(text, i, 2)) AS bgs
             |  FROM documents WHERE length(text) >= 2),
             |x AS (SELECT unnest(bgs) AS b FROM bg),
             |c AS (SELECT b, COUNT(*) AS c FROM x GROUP BY b),
             |p AS (SELECT substring(b, 1, 1) AS a, CAST(SUM(c) AS BIGINT) AS ca
             |  FROM c GROUP BY 1),
             |mdl AS (SELECT (SELECT MAP(list(b), list(c)) FROM c) AS cm,
             |               (SELECT MAP(list(a), list(ca)) FROM p) AS pm,
             |               (SELECT COUNT(*) FROM c) AS v),
             |l AS (SELECT doc_id, list_transform(bgs, b ->
             |    CAST(map_extract(cm, b)[1] + 1 AS DOUBLE)
             |      / (map_extract(pm, substring(b, 1, 1))[1] + v)) AS ps
             |  FROM bg CROSS JOIN mdl)
             |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_bg,
             |  list_reduce(list_prepend(CAST(0 AS DOUBLE), ps), (a, x) -> a + x)
             |    / len(ps) AS lm_score
             |FROM l""".stripMargin)),

    // 158. temperature-based source mixing (the multilingual/multi-source
    // sampling-weight computation: w_s ∝ n_s^(1/τ) at τ = 2): per-source
    // counts → sqrt weights normalized over sources → expected draw count
    // out of a fixed 10000-doc budget. sqrt (not an arbitrary exponent)
    // because IEEE-754 requires sqrt correctly rounded — pow(x, 0.7)
    // differs between Java and libm in last ulps, sqrt never does. The
    // normalizer folds the per-source sqrt terms in SOURCE order on both
    // engines (n_sources values — one tiny shuffle, one broadcast row,
    // everything else is arithmetic on the grouped result).
    GraftQuery("ta_mix_temperature", (s, d) => {
      val perSrc = docs(s, d).groupBy("source").agg(count(lit(1)).as("n_docs"))
      val z = perSrc.agg(expr(
        "aggregate(transform(array_sort(collect_list(struct(source, n_docs))), " +
          "x -> sqrt(CAST(x.n_docs AS DOUBLE))), CAST(0 AS DOUBLE), (a, w) -> a + w)")
        .as("z"))
      perSrc.crossJoin(broadcast(z))
        .withColumn("weight", sqrt(col("n_docs").cast("double")) / col("z"))
        .withColumn("expect_docs", floor(col("weight") * lit(10000)).cast("long"))
        .select("source", "n_docs", "weight", "expect_docs")
    },
      Some("""WITH s AS (SELECT source, COUNT(*) AS n_docs
             |  FROM documents GROUP BY source),
             |z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |    list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
             |    (a, w) -> a + w) AS z
             |  FROM s)
             |SELECT source, n_docs,
             |  sqrt(CAST(n_docs AS DOUBLE)) / z.z AS weight,
             |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / z.z * 10000) AS BIGINT)
             |    AS expect_docs
             |FROM s CROSS JOIN z""".stripMargin)),

    // 159. SOFT dedup (the keep-all-with-weight alternative to dropping:
    // SlimPajama-style hard dedup loses the duplication signal, so
    // recent pipelines downweight instead — each exact-dup cluster
    // contributes total sampling mass 1, i.e. weight = 1/n_dup per
    // copy — and budget tokens by the weighted mass). One window count
    // over the content-hash partition: a SINGLE shuffle on the 32-char
    // digest (vs groupBy + re-join = two), no row is dropped, and the
    // two reported doubles are fixed-shape single divisions of exact
    // integers, so both engines agree bitwise. Skew posture: a
    // pathological mega-cluster (one text duplicated across a whole
    // shard) lands in one window partition, but the per-row state is a
    // count — AQE splits the partition, and the window needs no
    // ordering, so there is no sort to skew.
    GraftQuery("dd_soft", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, d)
        .withColumn("n_toks", expr(s"size($toksExpr)").cast("long"))
        .withColumn("n_dup",
          count(lit(1)).over(Window.partitionBy(md5(col("text")))))
        .select(col("doc_id"), col("n_dup"),
          (lit(1.0) / col("n_dup")).as("weight"),
          (col("n_toks").cast("double") / col("n_dup")).as("eff_tokens"))
    },
      Some("""WITH w AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
             |      AS BIGINT) AS n_toks,
             |    COUNT(*) OVER (PARTITION BY md5(text)) AS n_dup
             |  FROM documents)
             |SELECT doc_id, n_dup,
             |  CAST(1 AS DOUBLE) / n_dup AS weight,
             |  CAST(n_toks AS DOUBLE) / n_dup AS eff_tokens
             |FROM w""".stripMargin))
  )
}
