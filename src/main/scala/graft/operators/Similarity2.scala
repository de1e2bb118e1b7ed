package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.3 — third batch of similarity operators: incremental near-dup
  * (new batch vs existing index) and product-quantization ANN.
  *
  * Scale posture: dd_incremental is THE production dedup shape — a daily
  * crawl delta is banded against the persisted corpus signature index, so
  * per-run cost is O(delta) band probes instead of re-deduping the corpus;
  * candidates stay bucket-bounded and only bare id pairs cross the
  * distinct. ann_pq trades the full-vector scan for 8-bit codes: the
  * codebook broadcasts, the code table is 8 bytes/vector (64× smaller than
  * the float vectors), and only the top-N approximate matches re-read real
  * vectors for the exact re-rank. */
object Similarity2 {

  private def docs(s: SparkSession, d: String) = Tables.widened(s, d, "documents")

  /** Per-side banded signature view: (id, band, bk). */
  private def banded(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> slice(sig, $rows * b + 1, $rows))"))
      .as(Seq("band", "bk")))

  /** Codewords per subspace: corpus-scaled like Similarity.ivfK but capped
    * at 256 so codes stay byte-sized — K = clamp(64, 256, N/256). The
    * codebook is a hash-sample, never corpus-sized, and the oracle derives
    * the identical K from COUNT(*) (pqCodebookSql). */
  private val pqMin = 64
  private val pqMax = 256
  private def pqK(s: SparkSession, d: String): Int =
    math.max(pqMin.toLong, math.min(pqMax.toLong,
      Similarity.embCount(s, d) / Similarity.clusterTarget)).toInt

  /** Flat subspace-major PQ codebook (one row, array<array<double>>(8·K))
    * from a deterministic md5 hash-sample of `k` vectors; codewords
    * ordered by (subspace, sample rank) in both engines. */
  private def pqCodebook(base: DataFrame, k: Int): DataFrame =
    base.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("h"), col("vec_id"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m AS m, slice(v, 8 * m + 1, 8) AS sub))"))
        .as("ms"))
      .select(col("ms.m").as("m"), col("h"), col("vec_id"), col("ms.sub").as("sub"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(m, h, vec_id, sub))), x -> x.sub)")
        .as("cb"))

  /** Oracle mirror of `pqCodebook` (expects a CTE `n(vec_id, v, n2)`);
    * emits CTEs `sq`, `sub`, `cb(cb, k)`. `crank` is the sample rank —
    * exactly the codeword's index in the flat Spark-side codebook, so the
    * oracle's codes are positionally identical to pq_encode's. */
  private[operators] def pqCodebookSql: String =
    s"""sq AS (SELECT vec_id, v, crank FROM (
       |    SELECT vec_id, v,
       |      CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
       |        AS INTEGER) AS crank,
       |      COUNT(*) OVER () AS kn
       |    FROM n)
       |  WHERE crank < GREATEST($pqMin, LEAST($pqMax, kn // ${Similarity.clusterTarget}))),
       |sub AS (SELECT m, crank, list_slice(v, 8 * m + 1, 8 * m + 8) AS sub
       |  FROM sq, range(0, 8) r(m)),
       |cb AS (SELECT list(sub ORDER BY m, crank) AS cb,
       |    CAST(COUNT(*) // 8 AS INTEGER) AS k FROM sub)""".stripMargin

  /** One-row (cids, cvs) centroid arrays for map-only argmin_l2 assignment,
    * sorted by cid — index r in `cvs` is the centroid whose id is
    * `cids[r]`, and ties in argmin_l2 (earliest index) therefore match the
    * oracles' ORDER BY dist, cid. */
  private[graft] def centroidArrays(cents: DataFrame): DataFrame =
    cents.agg(
      expr("transform(array_sort(collect_list(struct(cid, cv))), x -> x.cid)").as("cids"),
      expr("transform(array_sort(collect_list(struct(cid, cv))), x -> x.cv)").as("cvs"))

  /** Two-level quantizer sizing (dd_semantic_hier — the path past the
    * single-level kMax = 65536 broadcast ceiling, which holds cluster
    * population ~256 only to 16.7M vectors): the COARSE codebook targets
    * ~65536 vectors per cell and stays broadcastable (≤ 65536 × 64
    * doubles ≈ 32 MB); each coarse cell then gets its own FINE codebook
    * sized from the CELL population (clamp(1, 256, pop/256)), so the
    * effective cluster population stays ~256 up to
    * 65536 · 65536 · 256 ≈ 1.1e15 vectors — the fixed-capacity quadratic
    * class removed for the quantizer family outright, not just pushed.
    * Fine codebooks are never broadcast: they live partitioned BY coarse
    * cell, and fine assignment rides the same coarse-keyed shuffle the
    * within-cluster pairwise stage needs anyway. Integer-clamped from
    * COUNT(*) / per-cell COUNT so the oracle rederives both levels. */
  private[graft] val coarseTarget = 65536
  private[graft] def hierK1(n: Long): Int =
    math.max(32L, math.min(65536L, n / coarseTarget)).toInt
  private[graft] def hierK2(cellN: Long): Long =
    math.max(1L, math.min(256L, cellN / Similarity.clusterTarget))

  /** Routing contract for semantic dedup at corpus size n (GenScaleSpec-
    * pinned): `dd_semantic`'s single-level quantizer holds cluster
    * population ≤ clusterTarget only while scaledK(n) is below the kMax
    * broadcast ceiling (n < kMax · clusterTarget ≈ 16.7M vectors). At or
    * past the clamp a deployment must run `dd_semantic_hier`, whose
    * two-level quantizer keeps the effective population bounded — the
    * single-level entry degrades quadratically there by design, it does
    * not fail. */
  private[graft] def semanticPath(n: Long): String =
    if (Similarity.scaledK(n) < Similarity.kMax) "dd_semantic" else "dd_semantic_hier"

  // ---- single-sourced PQ search chains (ann_pq / ann_ivf_pq return these
  // DataFrames directly; emb_pq_recall_eval joins them against the exact
  // chain — the emb_recall_eval discipline applied to the ADC family) ----

  /** PQ top-5 (ADC over byte codes, exact re-rank of the approximate
    * top-50) — see the ann_pq entry for the full plan commentary. */
  private[operators] def pqTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Similarity.vecs(s, d)
    val cbDF = pqCodebook(base, pqK(s, d))
    // encode: nearest codeword per (vector, subspace) via the native
    // pq_encode expression (functions.PqEncode) over the broadcast
    // codebook — a pure map-only projection in one codegen'd tight loop
    // (no window shuffle, no interpreted HOF argmin). Strict `<` keeps
    // the earliest codeword on distance ties, identical to the oracle's
    // ORDER BY dist, crank.
    val codes = base.crossJoin(broadcast(cbDF))
      .withColumn("codes", expr("pq_encode(v, cb)"))
      .select(col("vec_id").as("n_id"), col("codes"), col("v"), col("n2"))
    // search: native adc_dist per candidate (one codegen'd tight loop —
    // the interpreted nested-HOF fold was the bench's hottest line), then
    // exact re-rank of the approximate top-50
    val qs = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    val wA = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("n_id").asc)
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    broadcast(qs.crossJoin(cbDF))
      .join(codes, col("n_id") =!= col("q_id"))
      .withColumn("adist", expr("adc_dist(qv, cb, codes)"))
      .withColumn("ra", row_number().over(wA))
      .filter(col("ra") <= 50)
      .withColumn("cos", expr("dot_product(qv, v)") / (sqrt(col("qn")) * sqrt(col("n2"))))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "n_id", "cos")
  }

  /** IVF-PQ top-5 (coarse probe bounds WHICH vectors, ADC bounds WHAT is
    * read per candidate) — see the ann_ivf_pq entry for commentary. */
  private[operators] def ivfPqTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Similarity.vecs(s, d)
    val cents = Similarity.centroids(base, Similarity.ivfK(s, d))
    val cbRow = centroidArrays(cents)
    val pqCb = pqCodebook(base, pqK(s, d))
    // index: (cell, codes) per vector in ONE map pass — at scale this is
    // the persisted artifact; the full-vector columns ride along here
    // only because the re-rank needs them and the test corpus is small
    val index = base.crossJoin(broadcast(cbRow)).crossJoin(broadcast(pqCb))
      .withColumn("cell", expr("element_at(cids, argmin_l2(v, cvs) + 1)"))
      .withColumn("codes", expr("pq_encode(v, cb)"))
      .select(col("vec_id").as("n_id"), col("cell"), col("codes"),
        col("v"), col("n2"))
    val qs = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qdist2").asc, col("cid").asc)
    val probes = broadcast(qs).crossJoin(broadcast(cents))
      .withColumn("qdist2", expr("l2_sq(qv, cv)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= Similarity.ivfNProbe(Similarity.ivfK(s, d)))
      .select(col("q_id"), col("qv"), col("qn"), col("cid").as("cell"))
    val wA = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("n_id").asc)
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    // probes × pqCb is bounded (queries × nprobe rows, one codebook
    // struct) but its static size estimate is crossJoin-inflated: at
    // sf1 stats the planner flips this join to SortMergeJoin and
    // shuffles the corpus-sized code index by cell. Declare the bound.
    broadcast(probes.crossJoin(broadcast(pqCb)))
      .join(index, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("adist", expr("adc_dist(qv, cb, codes)"))
      .withColumn("ra", row_number().over(wA))
      .filter(col("ra") <= 50)
      .withColumn("cos", expr("dot_product(qv, v)") / (sqrt(col("qn")) * sqrt(col("n2"))))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "n_id", "cos")
  }

  /** The nested ADC left fold both PQ oracles share (aliases fixed: query
    * side `q(qv)`, candidate side `ct(codes)`, codebook CTE `cb`) —
    * identical association to the native adc_dist expression. */
  private def adcSql: String =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8),
      |      m -> list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
      |        i -> (q.qv[CAST(8 * m + i AS INTEGER)]
      |              - cb.cb[CAST(m * cb.k + ct.codes[CAST(m + 1 AS INTEGER)] + 1 AS INTEGER)][CAST(i AS INTEGER)])
      |           * (q.qv[CAST(8 * m + i AS INTEGER)]
      |              - cb.cb[CAST(m * cb.k + ct.codes[CAST(m + 1 AS INTEGER)] + 1 AS INTEGER)][CAST(i AS INTEGER)]))),
      |        (s2, x) -> s2 + x))), (acc, x) -> acc + x)""".stripMargin

  /** PQ code assignment (expects `n` and the codebook CTEs): `dists`,
    * `asgn`, `codes` ending in codes(n_id, codes) — the oracle mirror of
    * pq_encode, shared by every ADC consumer. */
  private[operators] def pqCodesSqlCtes: String =
    s"""dists AS (SELECT n.vec_id, s.m, s.crank,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
       |      i -> (n.v[CAST(8 * s.m + i AS INTEGER)] - s.sub[CAST(i AS INTEGER)])
       |         * (n.v[CAST(8 * s.m + i AS INTEGER)] - s.sub[CAST(i AS INTEGER)]))),
       |      (acc, x) -> acc + x) AS dist
       |  FROM n CROSS JOIN sub s),
       |asgn AS (SELECT vec_id, m, crank,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, crank) AS rn
       |  FROM dists),
       |codes AS (SELECT a.vec_id AS n_id, list(a.crank ORDER BY a.m) AS codes
       |  FROM asgn a WHERE a.rn = 1 GROUP BY a.vec_id)""".stripMargin

  /** ADC search chain `${p}adc → ${p}top → ${p}rr → ${p}fin` over a FROM
    * clause supplying aliases q(q_id, qv, qn) and ct(n_id, codes, v, n2)
    * plus the codebook `cb`; ends in ${p}fin(q_id, n_id, cos, rk). */
  private def adcSearchSqlCtes(p: String, from: String): String =
    s"""${p}adc AS (SELECT q.q_id, q.qv, q.qn, ct.n_id, ct.v, ct.n2,
       |    $adcSql AS adist
       |  FROM $from),
       |${p}top AS (SELECT q_id, qv, qn, n_id, v, n2,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS ra
       |  FROM ${p}adc),
       |${p}rr AS (SELECT q_id, n_id,
       |    list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i]),
       |      (s, x) -> s + x) / (sqrt(qn) * sqrt(n2)) AS cos
       |  FROM ${p}top WHERE ra <= 50),
       |${p}fin AS (SELECT q_id, n_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
       |  FROM ${p}rr)""".stripMargin

  /** PQ chain CTEs from the shared base (`n`, `q`): codebook → codes →
    * candidate table `ct` → ADC search ending in ${p}fin. */
  private def pqChainSqlCtes(p: String): String =
    s"""$pqCodebookSql,
       |$pqCodesSqlCtes,
       |ct AS (SELECT c.n_id, c.codes, n.v, n.n2 FROM codes c JOIN n ON n.vec_id = c.n_id),
       |${adcSearchSqlCtes(p, s"q CROSS JOIN cb JOIN ct ON ct.n_id <> q.q_id")}""".stripMargin

  /** IVF-PQ continuation (expects `n`, `q` and the PQ chain's codebook +
    * `codes` CTEs): centroids → cell assignment → probes → cell-bounded
    * ADC search ending in ${p}fin. */
  private def ivfPqChainSqlCtes(p: String): String =
    s"""c AS (${Similarity.centroidsSql}),
       |asg AS (SELECT vec_id AS n_id, cid AS cell FROM (
       |    SELECT n.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${Similarity.duckL2("n.v", "c.cv")}, c.cid) AS arn
       |    FROM n CROSS JOIN c) WHERE arn = 1),
       |idx AS (SELECT asg.n_id, asg.cell, codes.codes, n.v, n.n2
       |  FROM asg JOIN codes ON codes.n_id = asg.n_id
       |  JOIN n ON n.vec_id = asg.n_id),
       |probes AS (
       |  SELECT q_id, qv, qn, cid AS cell FROM (
       |    SELECT q.q_id, q.qv, q.qn, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY ${Similarity.duckL2("q.qv", "c.cv")}, c.cid) AS prn
       |    FROM q CROSS JOIN c) WHERE prn <= ${Similarity.ivfNProbeSql}),
       |${adcSearchSqlCtes(p,
        s"probes q CROSS JOIN cb JOIN idx ct ON ct.cell = q.cell AND ct.n_id <> q.q_id")}""".stripMargin

  val defs: Seq[GraftQuery] = Seq(

    // 42d. incremental near-dup: the "new batch" (doc_id % 10 == 0 — the
    // daily delta) is checked against the "existing index" (the rest of the
    // corpus, whose signatures are the persisted artifact of a previous
    // dedup run). Band equijoin new×index only — never index×index, so a
    // daily run scales with the delta, not the corpus. Same md5 MinHash
    // family as dd_minhash_lsh → the oracle recomputes banding, prefilter
    // and Jaccard verify bit-exactly.
    GraftQuery("dd_incremental", (s, d) => {
      val sh = docs(s, d).select(col("doc_id"),
        expr("char_shingles(text, 5)").as("sh"))
      val sigs = OpCache.track(s, sh.withColumn("sig", expr("minhash_sig(sh)"))
        .select("doc_id", "sig").persist())
      val newB = banded(sigs.filter(col("doc_id") % 10 === 0), 16, 4)
        .toDF("nid", "band", "bk")
      val idxB = banded(sigs.filter(col("doc_id") % 10 =!= 0), 16, 4)
        .toDF("oid", "band", "bk")
      val cand = newB.join(idxB, Seq("band", "bk"))
        .select("nid", "oid").distinct()
      val pre = cand
        .join(sigs.select(col("doc_id").as("nid"), col("sig").as("sa")), "nid")
        .join(sigs.select(col("doc_id").as("oid"), col("sig").as("sb")), "oid")
        .withColumn("est", expr(
          "sig_agree(sa, sb) / CAST(64 AS DOUBLE)"))
        .filter(col("est") >= 0.55)
        .select("nid", "oid")
      pre
        .join(sh.select(col("doc_id").as("nid"), col("sh").as("sha")), "nid")
        .join(sh.select(col("doc_id").as("oid"), col("sh").as("shb")), "oid")
        .withColumn("jacc", expr("jaccard_sim(sha, shb)"))
        .filter(col("jacc") >= 0.7)
        .select("nid", "oid", "jacc")
    },
      Some(s"""WITH d AS (${DuckSql.shingles("documents", "doc_id", 5)}),
             |${DuckSql.sigCtes("doc_id")},
             |bands AS (SELECT doc_id, b, list_slice(sig, 4*b+1, 4*b+4) AS bk
             |  FROM sl, range(0, 16) r(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS nid, bb.doc_id AS oid
             |  FROM bands a JOIN bands bb ON a.b = bb.b AND a.bk = bb.bk
             |  WHERE a.doc_id % 10 = 0 AND bb.doc_id % 10 <> 0),
             |pre AS (SELECT nid, oid FROM cand
             |  JOIN sl sa ON sa.doc_id = cand.nid
             |  JOIN sl sb ON sb.doc_id = cand.oid
             |  WHERE ${DuckSql.sigAgree("sa.sig", "sb.sig")} >= 0.55),
             |v AS (SELECT nid, oid, ${DuckSql.jacc("da.sh", "db.sh")} AS jacc
             |  FROM pre JOIN d da ON da.doc_id = pre.nid
             |  JOIN d db ON db.doc_id = pre.oid)
             |SELECT nid, oid, jacc FROM v WHERE jacc >= 0.7""".stripMargin)),

    // 46c. product-quantization ANN: 8 subspaces × 8 dims, deterministic
    // codebook of K = clamp(64, 256, N/256) codewords per subspace from
    // an md5 hash-sample of vec_ids (capped at 256 so codes stay
    // byte-sized; the broadcast codebook tops out at ~130 KB),
    // 8-bit codes per vector, asymmetric-distance search (query ×
    // codebook table, codes looked up, never full vectors), exact cosine
    // re-rank of the approximate top-50 (10×k — the usual production
    // re-rank depth). Scale: the code table is ~8 B/vector vs 512 B of
    // floats (64× smaller scan), the codebook broadcasts, and real
    // vectors are only read for the ~50 re-rank candidates per query.
    // Float determinism: every distance is an in-expression left fold
    // (subspace-major, then dim-major) — no cross-row float SUM whose
    // order could differ between engines — so the oracle reproduces
    // assignment, ADC ranking and re-rank bit-exactly.
    GraftQuery("ann_pq", (s, d) => pqTopk(s, d),
      Some(s"""WITH ${Similarity.baseVecSqlCtes},
             |${pqChainSqlCtes("")}
             |SELECT q_id, rk, n_id, cos FROM fin WHERE rk <= 5""".stripMargin)),

    // 46d. dimensionality reduction: seeded Johnson-Lindenstrauss random
    // projection 64 → 16 dims (the first 16 LSH hyperplanes double as the
    // projection matrix — same seed, identical on every executor). A pure
    // map-only projection: each output dim is one strict left-fold dot
    // against a matrix LITERAL baked into the plan (and into the oracle
    // SQL), no shuffle, no broadcast needed. The standard pre-step before
    // clustering/ANN when 100 TB of float vectors won't fit the budget.
    GraftQuery("emb_dim_reduce", (s, d) => {
      import s.implicits._
      val base = Tables.widened(s, d, "embeddings").select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      // matrix ships as DATA (createDataFrame), not SQL literals: a
      // 17-significant-digit literal round-trips through Spark's DECIMAL
      // parse whose toDouble double-rounds (unscaled > 2^53) — off by an
      // ulp from the strtod the oracle uses. Binary doubles sidestep it.
      val planes = (0 until 16).map(j =>
        (j.toLong, graft.functions.LshSigs.planes(j).toSeq)).toDF("j", "plane")
      base.crossJoin(broadcast(planes))
        .withColumn("p", expr("dot_product(v, plane)"))
        .select("vec_id", "j", "p")
    },
      Some({
        // E-notation forces the DOUBLE parse path (strtod, correctly
        // rounded); a plain decimal literal goes through DECIMAL whose
        // cast to DOUBLE double-rounds 17-digit values by an ulp
        def dlit(x: Double): String = {
          val r = x.toString
          if (r.contains("E") || r.contains("e")) r else r + "E0"
        }
        val planeRows16 = (0 until 16).map { j =>
          val lits = graft.functions.LshSigs.planes(j)
            .map(dlit).mkString("[", ", ", "]")
          s"($j, $lits)"
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |pl AS (SELECT * FROM (VALUES
           |$planeRows16) t(j, plane))
           |SELECT e.vec_id, CAST(pl.j AS BIGINT) AS j,
           |  list_reduce(list_transform(range(1, 65), i -> e.v[i] * pl.plane[i]),
           |    (s, x) -> s + x) AS p
           |FROM e CROSS JOIN pl""".stripMargin
      })),

    // 45c. semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    // embedding space with a deterministic corpus-SCALED coarse quantizer
    // (K = clamp(32, 65536, N/256) hash-sampled centroids, like ann_ivf —
    // real SemDeDup runs K ∝ corpus for exactly this reason), then dedup
    // ONLY within clusters. Expected cluster population is ≤ ~256 at any
    // corpus size, so the within-cluster all-pairs stage does O(N · 256)
    // work TOTAL — linear in the corpus, not O(N²/const) — while the
    // codebook broadcast stays ≤ ~32 MB. Pairs straddling cluster
    // boundaries are out of contract by design (that is the SemDeDup
    // trade: candidate generation from semantic clusters instead of
    // labels/LSH). Assignment is a map-only native argmin_l2 (centroids
    // broadcast, no shuffle, codegen'd tight loop); the pairwise stage
    // shuffles once on cluster_id. SCALE BINDING POINT: valid to
    // kMax · clusterTarget ≈ 16.7M vectors, where scaledK clamps and
    // cluster population starts growing again — past that, run
    // dd_semantic_hier (see semanticPath; GenScaleSpec pins the boundary).
    GraftQuery("dd_semantic", (s, d) => {
      val base = Tables.widened(s, d, "embeddings").select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
      val cbRow = centroidArrays(Similarity.centroids(base, Similarity.ivfK(s, d)))
      val assigned = base.crossJoin(broadcast(cbRow))
        .withColumn("cluster_id", expr("element_at(cids, argmin_l2(v, cvs) + 1)"))
        .select(col("vec_id"), col("cluster_id"), col("v"), col("n2"))
      val a = assigned.select(col("cluster_id"), col("vec_id").as("ia"),
        col("v").as("va"), col("n2").as("na"))
      val b = assigned.select(col("cluster_id"), col("vec_id").as("ib"),
        col("v").as("vb"), col("n2").as("nb"))
      a.join(b, Seq("cluster_id"))
        .filter(col("ia") < col("ib"))
        .withColumn("cos", expr("dot_product(va, vb)") / (sqrt(col("na")) * sqrt(col("nb"))))
        .filter(col("cos") >= 0.35)
        .select(col("cluster_id").cast("long").as("cluster_id"),
          col("ia"), col("ib"), col("cos"))
    },
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v,
             |    list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
             |      (s, x) -> s + x) AS n2 FROM e),
             |c AS (${Similarity.centroidsSql}),
             |asgn AS (SELECT vec_id, cid AS cluster_id FROM (
             |    SELECT n.vec_id, c.cid,
             |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |        ${Similarity.duckL2("n.v", "c.cv")}, c.cid) AS rn
             |    FROM n CROSS JOIN c) WHERE rn = 1),
             |j AS (SELECT a.cluster_id, na.vec_id AS ia, nb.vec_id AS ib,
             |    list_reduce(list_transform(range(1, 65), i -> na.v[i] * nb.v[i]),
             |      (s, x) -> s + x) / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
             |  FROM asgn a JOIN asgn b ON a.cluster_id = b.cluster_id
             |    AND a.vec_id < b.vec_id
             |  JOIN n na ON na.vec_id = a.vec_id
             |  JOIN n nb ON nb.vec_id = b.vec_id)
             |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, ia, ib, cos
             |FROM j WHERE cos >= 0.35""".stripMargin)),

    // 45d. semantic dedup, TWO-LEVEL quantizer (the billion-vector path):
    // dd_semantic's single-level K caps at 65536 (the codebook broadcast
    // bound), so past 16.7M vectors its cluster population — and the
    // within-cluster pairwise — grows again. Here the coarse codebook
    // (K1 = clamp(32, 65536, N/65536)) broadcasts and assigns map-only;
    // the FINE codebooks are sized per coarse cell from the cell's own
    // population (K2 = clamp(1, 256, pop/256)) and are PARTITIONED BY
    // COARSE CELL, never broadcast — fine assignment is a co-partitioned
    // join on coarse_id, the exact shuffle key the pairwise stage needs
    // anyway, so the second level costs no extra vector movement class.
    // Effective cluster population stays ~256 to ~1e15 vectors. Both
    // levels' sampling (md5 rank) and sizing derive from COUNT(*) /
    // per-cell COUNT, so the DuckDB oracle reproduces centroid sets,
    // both assignments and the pairwise verify bit-exactly.
    GraftQuery("dd_semantic_hier", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.widened(s, d, "embeddings").select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
      val k1 = hierK1(Similarity.embCount(s, d))
      val cb1 = centroidArrays(Similarity.centroids(base, k1))
      val a1 = base.crossJoin(broadcast(cb1))
        .withColumn("coarse_id", expr("element_at(cids, argmin_l2(v, cvs) + 1)"))
        .select(col("vec_id"), col("coarse_id"), col("v"), col("n2"))
      // fine centroids: deterministic md5-rank sample WITHIN each coarse
      // cell, k2 from the cell population (hierK2, `div` = DuckDB `//`)
      val wCell = Window.partitionBy(col("coarse_id"))
      val wRank = wCell.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val fineCb = a1
        .withColumn("rk", row_number().over(wRank))
        .withColumn("cn", count(lit(1)).over(wCell))
        .filter(col("rk") <= greatest(lit(1L), least(lit(256L), expr("cn div 256"))))
        .select(col("coarse_id"), col("vec_id").as("fcid"), col("v").as("fcv"))
        .groupBy("coarse_id").agg(
          expr("transform(array_sort(collect_list(struct(fcid, fcv))), x -> x.fcid)").as("fids"),
          expr("transform(array_sort(collect_list(struct(fcid, fcv))), x -> x.fcv)").as("fvs"))
      // fine assignment: one shuffle keyed on coarse_id (codebooks
      // co-partitioned with their vectors); ties match the oracle's
      // ORDER BY dist, fcid because fids/fvs are sorted by fcid
      val a2 = a1.join(fineCb, "coarse_id")
        .withColumn("fine_id", expr("element_at(fids, argmin_l2(v, fvs) + 1)"))
        .select(col("vec_id"), col("coarse_id"), col("fine_id"), col("v"), col("n2"))
      val a = a2.select(col("coarse_id"), col("fine_id"), col("vec_id").as("ia"),
        col("v").as("va"), col("n2").as("na"))
      val b = a2.select(col("coarse_id"), col("fine_id"), col("vec_id").as("ib"),
        col("v").as("vb"), col("n2").as("nb"))
      a.join(b, Seq("coarse_id", "fine_id"))
        .filter(col("ia") < col("ib"))
        .withColumn("cos", expr("dot_product(va, vb)") / (sqrt(col("na")) * sqrt(col("nb"))))
        .filter(col("cos") >= 0.35)
        .select(col("coarse_id").cast("long").as("coarse_id"),
          col("fine_id").cast("long").as("fine_id"),
          col("ia"), col("ib"), col("cos"))
    },
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v,
             |    list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
             |      (s, x) -> s + x) AS n2 FROM e),
             |c1 AS (SELECT vec_id AS cid, v AS cv FROM (
             |    SELECT vec_id, v,
             |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS krn,
             |      COUNT(*) OVER () AS kn
             |    FROM n)
             |  WHERE krn <= GREATEST(32, LEAST(65536, kn // 65536))),
             |a1 AS (SELECT vec_id, cid AS coarse_id FROM (
             |    SELECT n.vec_id, c1.cid,
             |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |        ${Similarity.duckL2("n.v", "c1.cv")}, c1.cid) AS rn
             |    FROM n CROSS JOIN c1) WHERE rn = 1),
             |f AS (SELECT coarse_id, vec_id AS fcid FROM (
             |    SELECT coarse_id, vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY coarse_id
             |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk,
             |      COUNT(*) OVER (PARTITION BY coarse_id) AS cn
             |    FROM a1)
             |  WHERE rk <= GREATEST(1, LEAST(256, cn // 256))),
             |a2 AS (SELECT vec_id, coarse_id, fcid AS fine_id FROM (
             |    SELECT a1.vec_id, a1.coarse_id, f.fcid,
             |      ROW_NUMBER() OVER (PARTITION BY a1.vec_id ORDER BY
             |        ${Similarity.duckL2("nv.v", "nf.v")}, f.fcid) AS rn
             |    FROM a1 JOIN f ON f.coarse_id = a1.coarse_id
             |    JOIN n nv ON nv.vec_id = a1.vec_id
             |    JOIN n nf ON nf.vec_id = f.fcid) WHERE rn = 1),
             |j AS (SELECT a.coarse_id, a.fine_id, na.vec_id AS ia, nb.vec_id AS ib,
             |    list_reduce(list_transform(range(1, 65), i -> na.v[i] * nb.v[i]),
             |      (s, x) -> s + x) / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
             |  FROM a2 a JOIN a2 b ON a.coarse_id = b.coarse_id
             |    AND a.fine_id = b.fine_id AND a.vec_id < b.vec_id
             |  JOIN n na ON na.vec_id = a.vec_id
             |  JOIN n nb ON nb.vec_id = b.vec_id)
             |SELECT CAST(coarse_id AS BIGINT) AS coarse_id,
             |  CAST(fine_id AS BIGINT) AS fine_id, ia, ib, cos
             |FROM j WHERE cos >= 0.35""".stripMargin)),

    // 46e. IVF-PQ — the composed production ANN at 100 TB scale: coarse
    // probe bounds WHICH vectors are considered (nprobe of K fixed cells,
    // cell assignment map-only argmin_l2), ADC over 8-byte PQ codes bounds
    // WHAT is read per candidate (codes + broadcast codebook, never full
    // vectors), and only the approximate top-50 re-reads real vectors for
    // the exact cosine re-rank. Index build (cell + codes per vector) is
    // one map-only projection over two one-row broadcasts; search cost is
    // |probed cells| · 8 B per query plus 50 full-vector reads. Every
    // stage is the same in-expression left-fold arithmetic as
    // ann_ivf/ann_pq, so the oracle reproduces the whole pipeline
    // bit-exactly.
    GraftQuery("ann_ivf_pq", (s, d) => ivfPqTopk(s, d),
      Some(s"""WITH ${Similarity.baseVecSqlCtes},
             |$pqCodebookSql,
             |$pqCodesSqlCtes,
             |${ivfPqChainSqlCtes("")}
             |SELECT q_id, rk, n_id, cos FROM fin WHERE rk <= 5""".stripMargin)),

    // 46f. ADC RECALL EVAL — emb_recall_eval's measurement loop applied to
    // the product-quantization family: recall@5 of ann_pq (full-corpus ADC
    // + re-rank) AND ann_ivf_pq (cell-bounded ADC) against the exact
    // brute-force answer, per query. The approximation being measured here
    // is the CODE path (8-byte codes + top-50 re-rank) and, for the IVF-PQ
    // column, its composition with the probe bound — the two knobs a
    // deployment trades off (code budget vs probe budget) read side by
    // side. All three sides are the SHARED chains (exactTopk / pqTopk /
    // ivfPqTopk — the same DataFrames ann_topk, ann_pq and ann_ivf_pq
    // return), joined on (q_id, n_id); queries with no agreement survive
    // via the left join from the query set. Integer hit counts; recall =
    // n_hit/5 in one fixed-shape division both engines evaluate
    // identically.
    GraftQuery("emb_pq_recall_eval", (s, d) => {
      val exact = Similarity.exactTopk(s, d).select("q_id", "n_id")
      def hits(ann: DataFrame, nm: String): DataFrame =
        exact.join(ann.select("q_id", "n_id"), Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as(nm))
      Similarity.vecs(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"))
        .join(hits(pqTopk(s, d), "hp"), Seq("q_id"), "left")
        .join(hits(ivfPqTopk(s, d), "hi"), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("hp"), lit(0L)).cast("long").as("n_hit_pq"),
          (coalesce(col("hp"), lit(0L)).cast("double") /
            lit(5).cast("double")).as("recall_pq"),
          coalesce(col("hi"), lit(0L)).cast("long").as("n_hit_ivf_pq"),
          (coalesce(col("hi"), lit(0L)).cast("double") /
            lit(5).cast("double")).as("recall_ivf_pq"))
    },
      Some(s"""WITH ${Similarity.baseVecSqlCtes},
             |${Similarity.exactTopkSqlCtes},
             |${pqChainSqlCtes("pq_")},
             |${ivfPqChainSqlCtes("ip_")},
             |hp AS (SELECT x.q_id, COUNT(*) AS h
             |  FROM (SELECT q_id, n_id FROM xr WHERE rk <= 5) x
             |  JOIN (SELECT q_id, n_id FROM pq_fin WHERE rk <= 5) a
             |    ON a.q_id = x.q_id AND a.n_id = x.n_id
             |  GROUP BY x.q_id),
             |hi AS (SELECT x.q_id, COUNT(*) AS h
             |  FROM (SELECT q_id, n_id FROM xr WHERE rk <= 5) x
             |  JOIN (SELECT q_id, n_id FROM ip_fin WHERE rk <= 5) a
             |    ON a.q_id = x.q_id AND a.n_id = x.n_id
             |  GROUP BY x.q_id)
             |SELECT q.q_id,
             |  CAST(COALESCE(hp.h, 0) AS BIGINT) AS n_hit_pq,
             |  CAST(COALESCE(hp.h, 0) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall_pq,
             |  CAST(COALESCE(hi.h, 0) AS BIGINT) AS n_hit_ivf_pq,
             |  CAST(COALESCE(hi.h, 0) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall_ivf_pq
             |FROM q LEFT JOIN hp ON hp.q_id = q.q_id
             |LEFT JOIN hi ON hi.q_id = q.q_id""".stripMargin)),

    // 163. int8 SCALAR quantization of the embedding store (the 4×
    // compression every vector warehouse applies before PQ is worth its
    // codebook): per-vector scale = max|v| / 127, symmetric round-half-up
    // codes, and the per-vector reconstruction error that decides whether
    // int8 recall is acceptable. PURE map-only projection — no shuffle, no
    // broadcast, pushes the embedding column straight off the scan — so it
    // runs at scan speed on any corpus. Float parity: scale is one
    // division of an order-insensitive exact max; each code is
    // floor(x/scale + 0.5) (floor is exact, the sum is one IEEE add); mse
    // folds the 64 squared residuals in POSITION order on both engines;
    // sum_code is an integer checksum that pins every individual code (a
    // paired ±1 error that cancelled in mse would still break it... and
    // vice versa for errors mse catches but the sum cancels).
    GraftQuery("emb_quantize", (s, d) => {
      Tables.widened(s, d, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("scale",
          when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax") / lit(127.0)))
        .withColumn("codes",
          expr("transform(v, x -> CAST(floor(x / scale + 0.5D) AS INT))"))
        .withColumn("sum_code", expr("aggregate(codes, 0L, (a, c) -> a + c)"))
        .withColumn("mse", expr(
          "aggregate(zip_with(v, codes, (x, c) -> (x - c * scale) * (x - c * scale)), " +
            "CAST(0 AS DOUBLE), (a, t) -> a + t) / 64"))
        .select("vec_id", "scale", "sum_code", "mse")
    },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |a AS (SELECT vec_id, v,
             |    list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
             |sc AS (SELECT vec_id, v,
             |    CASE WHEN amax = 0 THEN CAST(1 AS DOUBLE)
             |         ELSE amax / CAST(127 AS DOUBLE) END AS scale
             |  FROM a),
             |c AS (SELECT vec_id, v, scale,
             |    list_transform(v, x ->
             |      CAST(floor(x / scale + CAST(0.5 AS DOUBLE)) AS INTEGER)) AS codes
             |  FROM sc)
             |SELECT vec_id, scale,
             |  CAST(list_sum(codes) AS BIGINT) AS sum_code,
             |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |    list_transform(range(1, 65),
             |      i -> (v[i] - codes[i] * scale) * (v[i] - codes[i] * scale))),
             |    (acc, t) -> acc + t) / 64 AS mse
             |FROM c""".stripMargin)),

    // 164. one distributed Lloyd iteration refining the hash-sampled
    // codebook (the step that turns the to-date sample-only quantizer
    // family into real k-means: assign → per-cell mean → measure how far
    // each centroid moved). Plan shape at scale: assignment is the same
    // map-only broadcast argmin_l2 as ann_ivf (no N×K materialization);
    // the update is ONE groupBy on the cell id whose per-cell state is
    // bounded by the corpus-scaled K (population ~clusterTarget, the same
    // bound SemDeDup's pairwise stage already relies on) — so the
    // collect_list never holds more than ~256 vectors. Float parity for
    // the mean: the per-cell sum folds member vectors in vec_id order
    // (sort_array struct trick ↔ list(v ORDER BY vec_id)) element-wise,
    // then one division by the exact count; shift2 is the strict
    // left-fold L2 both engines share (l2_sq ↔ duckL2). In production the
    // loop iterates to convergence; one audited iteration pins the whole
    // mechanism, and shift2 is the convergence signal a driver loop reads.
    GraftQuery("ann_kmeans_refine", (s, d) => {
      val base = Tables.widened(s, d, "embeddings").select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
      val cents = Similarity.centroids(base, Similarity.ivfK(s, d))
      val cbRow = centroidArrays(cents)
      val assign = base.crossJoin(broadcast(cbRow))
        .withColumn("cell", expr("element_at(cids, argmin_l2(v, cvs) + 1)"))
        .select(col("vec_id"), col("cell"), col("v"))
      val upd = assign.groupBy("cell").agg(
        count(lit(1)).as("pop"),
        expr("transform(array_sort(collect_list(struct(vec_id, v))), x -> x.v)").as("vs"))
        .withColumn("mean", expr(
          "transform(aggregate(vs, array_repeat(CAST(0 AS DOUBLE), 64), " +
            "(acc, x) -> zip_with(acc, x, (a, b) -> a + b)), t -> t / pop)"))
      upd.join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
        .withColumn("shift2", expr("l2_sq(mean, cv)"))
        .select("cell", "pop", "shift2")
    },
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, ${Similarity.duckDot("v", "v")} AS n2 FROM e),
             |c AS (${Similarity.centroidsSql}),
             |asg AS (SELECT vec_id, cell, v FROM (
             |    SELECT n.vec_id, c.cid AS cell, n.v,
             |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
             |        ORDER BY ${Similarity.duckL2("n.v", "c.cv")}, c.cid) AS arn
             |    FROM n CROSS JOIN c) WHERE arn = 1),
             |g AS (SELECT cell, COUNT(*) AS pop, list(v ORDER BY vec_id) AS vs
             |  FROM asg GROUP BY cell),
             |m AS (SELECT cell, pop,
             |    list_transform(
             |      list_reduce(
             |        list_prepend(list_transform(range(1, 65), i -> CAST(0 AS DOUBLE)), vs),
             |        (acc, x) -> list_transform(range(1, 65),
             |          i -> acc[CAST(i AS INTEGER)] + x[CAST(i AS INTEGER)])),
             |      t -> t / pop) AS mean
             |  FROM g)
             |SELECT m.cell, m.pop, ${Similarity.duckL2("m.mean", "c.cv")} AS shift2
             |FROM m JOIN c ON c.cid = m.cell""".stripMargin)),

    // 175. one NN-Descent refinement round (Dong et al., WWW 2011): the
    // graph-ANN construction primitive. Start from a DETERMINISTIC ring
    // init (each vector's k=4 successors in id space mod N — the published
    // random init replaced by a fixed permutation so both engines build
    // the identical graph), then refine once: candidates(a) = B0(a) ∪
    // reverse(B0)(a) ∪ B0(B0(a)), new graph = top-4 of candidates by
    // cosine. Candidate degree is ≤ k + k + k² = 24 — candidate volume is
    // O(N·k²) at ANY corpus size (this bounded-degree expansion is the
    // whole point of NN-Descent; no pairwise pass anywhere). All joins are
    // id-equi-joins that co-partition on the graph key; the top-4 is a
    // bounded per-key window. Improvement is guaranteed pointwise:
    // B0 ⊆ candidates, so the selected cos at every rank dominates the
    // ring graph's (OpInvariantsSpec pins this).
    GraftQuery("ann_nndescent", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Similarity.vecs(s, d)
      val n = Similarity.embCount(s, d)
      val b0 = e.select(col("vec_id").as("a"))
        .withColumn("j", explode(expr("sequence(1, 4)")))
        .select(col("a"), ((col("a") + col("j")) % n).as("b"))
      val cand = b0
        .unionAll(b0.select(col("b").as("a"), col("a").as("b")))
        .unionAll(b0.as("x").join(b0.as("y"), col("x.b") === col("y.a"))
          .select(col("x.a").as("a"), col("y.b").as("b")))
        .filter(col("a") =!= col("b")).distinct()
      val na = e.select(col("vec_id").as("a"), col("v").as("va"), col("n2").as("na2"))
      val nb = e.select(col("vec_id").as("b"), col("v").as("vb"), col("n2").as("nb2"))
      val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b").asc)
      cand.join(na, Seq("a")).join(nb, Seq("b"))
        .withColumn("cos",
          expr("dot_product(va, vb)") / (sqrt(col("na2")) * sqrt(col("nb2"))))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 4)
        .select(col("a").as("vec_id"), col("rk"), col("b").as("n_id"), col("cos"))
    },
      Some(s"""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, ${Similarity.duckDot("v", "v")} AS n2 FROM e),
             |b0 AS (SELECT e.vec_id AS a, (e.vec_id + j) % (SELECT count(*) FROM e) AS b
             |  FROM e, unnest([1, 2, 3, 4]) AS t(j)),
             |cand AS (SELECT DISTINCT a, b FROM (
             |    SELECT a, b FROM b0
             |    UNION ALL SELECT b AS a, a AS b FROM b0
             |    UNION ALL SELECT x.a AS a, y.b AS b FROM b0 x JOIN b0 y ON x.b = y.a) u
             |  WHERE a <> b),
             |sc AS (SELECT c.a, c.b,
             |    ${Similarity.duckDot("na.v", "nb.v")} / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
             |  FROM cand c JOIN n na ON na.vec_id = c.a JOIN n nb ON nb.vec_id = c.b),
             |r AS (SELECT a AS vec_id, b AS n_id, cos,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b) AS BIGINT) AS rk
             |  FROM sc)
             |SELECT vec_id, rk, n_id, cos FROM r WHERE rk <= 4""".stripMargin)),

    // 177. one distributed PCA power-iteration step in EXACT arithmetic:
    // the dominant-direction estimate s = Σ_x (1·q(x))·q(x) over the
    // whole embedding store, where q quantizes each coordinate to
    // round-half-up milli-units. Every term is an int64 product and the
    // cross-row reduction is a DECIMAL(38,0) sum — exact and
    // order-independent at ANY corpus size (a double sum here would be
    // nondeterministic under Spark's partition-order aggregation and
    // could never hash-match the oracle). The FINAL projected column is
    // cast to STRING: decimal physical encodings differ across engines
    // (Spark fixed-len-byte-array vs DuckDB decimal128) and break the
    // driver's hash, while DOUBLE is exact only below 2^53 — which a
    // 100 TB corpus sum exceeds. A digit string is exact at any
    // magnitude and hash-stable (SURVEY §6: no DecimalType outputs).
    // Shape: map-only quantize + per-vector fold, one 64-key shuffle
    // (posexplode → groupBy dim); scan-bound at 100 TB.
    GraftQuery("emb_pca_power", (s, d) => {
      val e = Similarity.vecs(s, d)
      e.withColumn("q", expr("transform(v, x -> CAST(floor(x * 1000 + 0.5D) AS BIGINT))"))
        .withColumn("tsum", expr("aggregate(q, 0L, (a, x) -> a + x)"))
        .select(col("tsum"), posexplode(col("q")).as(Seq("pos", "qx")))
        .groupBy((col("pos") + 1).cast("long").as("dim"))
        .agg(sum(expr("CAST(tsum * qx AS DECIMAL(38,0))"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).cast("string").as("s"))
    },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |qv AS (SELECT vec_id,
             |    list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q FROM e),
             |t AS (SELECT vec_id, q,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, x) -> a + x) AS tsum FROM qv),
             |u AS (SELECT j, CAST(tsum * q[CAST(j AS INTEGER)] AS DECIMAL(38,0)) AS term
             |  FROM t, unnest(range(1, 65)) AS r(j))
             |SELECT CAST(j AS BIGINT) AS dim, CAST(CAST(sum(term) AS DECIMAL(38,0)) AS VARCHAR) AS s
             |FROM u GROUP BY j""".stripMargin))
  )
}
