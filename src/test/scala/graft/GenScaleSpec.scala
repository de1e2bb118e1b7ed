package graft

import org.apache.spark.sql.functions._

/** The sf1 scaling claims in BENCH_sf1.json rest on GenScale's replica
  * construction; pin its invariants at tiny scale (2 replicas of
  * sf0.001). */
class GenScaleSpec extends SparkSpec {

  private lazy val out: String = {
    val dir = specTempDir("genscale")
    GenScale.run(spark, sf, dir, 2)
    dir
  }

  test("tiled tables double row counts and keep join keys consistent") {
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val o = spark.read.parquet(s"$out/orders.parquet")
    val li0 = Tables.t(spark, sf, "lineitem")
    val o0 = Tables.t(spark, sf, "orders")
    assert(li.count() == 2 * li0.count())
    assert(o.count() == 2 * o0.count())
    // every lineitem still joins its order — key shifting kept FK integrity
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    val joined0 = li0.join(o0, col("l_orderkey") === col("o_orderkey")).count()
    assert(joined == 2 * joined0, s"FK integrity broken: $joined vs 2×$joined0")
  }

  test("document replicas: bijective permutation, ids disjoint, stats preserved") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val base = Tables.t(spark, sf, "documents")
    val n0 = base.count()
    assert(docs.count() == 2 * n0)
    // replica ids occupy a disjoint range
    assert(docs.filter(col("doc_id") >= 5000L).count() == n0)
    // mapping replica 1 BACK yields replica 0's text exactly (the char
    // map is a bijection and the cyclic rotation is invertible), so
    // within-replica token/shingle/dup structure is preserved verbatim
    val lower = GenScale.lower
    val digits = GenScale.digits
    val back = docs.filter(col("doc_id") >= 5000L)
      .withColumn("doc_id", col("doc_id") - 5000L)
      .withColumn("text", expr(
        "concat(substring(text, length(text) - 1 % length(text) + 1), " +
          "substring(text, 1, length(text) - 1 % length(text)))"))
      .withColumn("text", expr(
        s"translate(text, '${GenScale.permuted(lower, 1)}${GenScale.permuted(digits, 1)}', '$lower$digits')"))
      .select("doc_id", "text")
    val mismatch = back.join(base.select(col("doc_id"), col("text").as("t0")), "doc_id")
      .filter(col("text") =!= col("t0")).count()
    assert(mismatch == 0, s"$mismatch docs fail to map back")
    // cross-replica texts differ (dedup structure stays linear)
    val overlap = docs.filter(col("doc_id") < 5000L).select("text")
      .intersect(docs.filter(col("doc_id") >= 5000L).select("text")).count()
    assert(overlap == 0, s"$overlap identical texts across replicas")
    // phash decorrelates across replicas: the old block-mean stub kept
    // Caesar-rotated siblings at hamming ≤ 8 (every sibling band-collided
    // and mm_phash_cluster went quadratic at 100×); the nibble-vote stub
    // plus the seeded permutation plus the per-replica cyclic text
    // rotation must push (almost) all siblings past the verify threshold
    // (the rotation exists because space/digit positions survive a letter
    // permutation with identical position-salted votes — measured 2.4%
    // sibling collisions and a 117k giant component at sf10 without it)
    val sib = docs.filter(col("doc_id") < 5000L)
      .select(col("doc_id"), col("text").as("ta"))
      .join(docs.filter(col("doc_id") >= 5000L)
        .withColumn("doc_id", col("doc_id") - 5000L)
        .select(col("doc_id"), col("text").as("tb")), "doc_id")
      .collect()
    // checked at BOTH ends of the width clamp: w=16 (the original 64-bit
    // calibration) and w=32 (the 100 TB design point); thr is 8 at both
    // (width-constant by design — flips do not scale with bits)
    for (w <- Seq(16, 32)) {
      val thr = graft.operators.Multimodal.phashThr(w)
      val near = sib.count { r =>
        val fa = graft.operators.Multimodal.phashStub(
          r.getAs[String]("ta").getBytes("UTF-8"), w)
        val fb = graft.operators.Multimodal.phashStub(
          r.getAs[String]("tb").getBytes("UTF-8"), w)
        (0 until 4).map(i => java.lang.Long.bitCount(fa(i) ^ fb(i))).sum <= thr
      }
      assert(near <= sib.length / 50,
        s"$near/${sib.length} replica siblings still within phash hamming $thr at w=$w")
    }
  }

  test("phash width scales with the corpus; planted re-encode recall holds at w=32") {
    import graft.operators.Multimodal
    // the clamp: smallest w in [16,32] with 2^w >= 256·N (w = log2 N + 8)
    assert(Multimodal.phashW(256) == 16, "min clamp")
    assert(Multimodal.phashW(500) == 17, "sf0.01 corpus sits just past the knee")
    assert(Multimodal.phashW(50000) == 24, "sf1 corpus")
    assert(Multimodal.phashW(500000) == 27, "sf10 corpus")
    assert(Multimodal.phashW(100000000000L) == 32, "width cap")
    assert(Multimodal.phashThr(16) == 8)
    assert(Multimodal.phashThr(32) == 8, "threshold is width-constant — flips are absolute")
    // planted-recall at the 100 TB design point (w=32, 128-bit): every
    // re-encode variant (+1 on every 11th byte — the mm_phash ground
    // truth) must band-collide AND pass the verify. The sf10 study
    // (tools/phash_width_study.py) measured band recall 0.9993; tolerate
    // the ~0.07% miss rate, scaled to this corpus with headroom.
    val texts = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 7 === 0).select("text")
      .collect().map(_.getString(0))
    assert(texts.length >= 50, "need a meaningful planted sample")
    val w = 32
    val thr = Multimodal.phashThr(w)
    var missBand = 0
    var missVerify = 0
    texts.foreach { t =>
      val p = t.getBytes("UTF-8")
      val variant = p.clone()
      var i = 0
      while (i < variant.length) {
        if (i % 11 == 0) variant(i) = ((variant(i) & 0xff) + 1).toByte
        i += 1
      }
      val fa = Multimodal.phashStub(p, w)
      val fb = Multimodal.phashStub(variant, w)
      val ham = (0 until 4).map(i => java.lang.Long.bitCount(fa(i) ^ fb(i))).sum
      if (!(0 until 4).exists(i => fa(i) == fb(i))) missBand += 1
      else if (ham > thr) missVerify += 1
    }
    assert(missVerify == 0,
      s"$missVerify planted variants band-collided but failed the hamming verify")
    assert(missBand <= math.max(1, texts.length / 100),
      s"$missBand/${texts.length} planted variants share no band at w=32 " +
        "(study bound: 0.07% miss)")
  }

  test("quantizer K scales with the corpus; SemDeDup pairwise work stays linear") {
    import graft.operators.{Similarity, Similarity2}
    // the clamp itself
    assert(Similarity.scaledK(500) == 32, "min clamp at test scale")
    assert(Similarity.scaledK(8192) == 32, "knee of the clamp")
    assert(Similarity.scaledK(20000) == 78, "sf1 corpus unclamps")
    assert(Similarity.scaledK(100000000000L) == 65536, "broadcast cap")
    // sign-LSH width: same clamp discipline (2^q buckets ≈ N/8). The cap
    // is the plane supply (31 bits/table — the int sign-bit bound), not
    // the old q=16 that re-capped capacity at 524k vectors.
    assert(Similarity.lshQ(500) == 8, "min width at test scale")
    assert(Similarity.lshQ(2048) == 8, "exact power boundary stays 8")
    assert(Similarity.lshQ(2049) == 9, "first unclamped step")
    assert(Similarity.lshQ(20000) == 12, "sf1 corpus")
    assert(Similarity.lshQ(524289) == 17, "first step past the old q=16 ceiling")
    assert(Similarity.lshQ(100000000L) == 24, "1e8 vectors")
    assert(Similarity.lshQ(100000000000L) == 31, "width cap = plane supply")
    // expected bucket population stays ≤ 8 all the way to the cap
    (10 to 34).foreach { e =>
      val n = 1L << e
      if (n <= (1L << 31) * 8)
        assert((1L << Similarity.lshQ(n)) * 8 >= n,
          s"bucket population unbounded at N=$n")
    }
    // plane-stream freeze: extending the supply must never re-index the
    // legacy block — positions 0..47 are bit-identical to the
    // pre-extension Random(42) draw (emb_dim_reduce's JL matrix is
    // positions 0..15), and (t, p<16) still maps to t·16+p.
    import graft.functions.LshSigs
    val rnd = new scala.util.Random(42)
    val legacy = Array.fill(48)(Array.fill(64)(rnd.nextGaussian()))
    (0 until 48).foreach { i =>
      assert(java.util.Arrays.equals(LshSigs.planes(i), legacy(i)),
        s"plane stream position $i re-indexed by the width extension")
    }
    for (t <- 0 until 3; p <- 0 until 16)
      assert(LshSigs.planeIndex(t, p) == t * 16 + p, s"legacy layout moved at ($t,$p)")
    assert(LshSigs.planeIndex(0, 16) == 48, "extension block must append, not interleave")
    assert(LshSigs.planeIndex(2, 30) == LshSigs.planes.length - 1)

    // Tile sf0.001 embeddings in memory exactly like GenScale (rotation +
    // disjoint ids) to two corpus sizes ABOVE the clamp knee, run the real
    // centroid + argmin_l2 assignment, and count within-cluster candidate
    // pairs Σ n·(n−1)/2. With K ∝ N the expected cluster population is
    // constant (~clusterTarget), so doubling the corpus must ~double the
    // pairwise work — the fixed-K design this replaces would quadruple it.
    val base0 = Tables.t(spark, sf, "embeddings")
    def pairWork(reps: Int): (Long, Long) = {
      val tiled = (0 until reps).map { r =>
        (if (r == 0) base0 else base0.withColumn("embedding", expr(
          s"transform(sequence(0, 63), j -> element_at(embedding, ((j + $r) % 64) + 1))")))
          .withColumn("vec_id", col("vec_id") + lit(r * 2000L))
      }.reduce(_ unionAll _)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
        .persist()
      val n = tiled.count()
      val cb = Similarity2.centroidArrays(
        Similarity.centroids(tiled, Similarity.scaledK(n)))
      val pairs = tiled.crossJoin(broadcast(cb))
        .select(expr("argmin_l2(v, cvs)").as("cl"))
        .groupBy("cl").agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) / 2")).cast("long")).head.getLong(0)
      tiled.unpersist()
      (n, pairs)
    }
    val (n1, p1) = pairWork(20) // N=10k → K=39
    val (n2, p2) = pairWork(40) // N=20k → K=78
    assert(n2 == 2 * n1)
    val growth = p2.toDouble / p1
    assert(growth < 3.0,
      s"pairwise work grew ${growth}× at 2× data ($p1 → $p2) — not linear")
  }

  test("IVF probe scaling: nprobe tracks √K; ground-truth recall@5 holds across the knee") {
    import graft.operators.{Similarity, Similarity2}
    import org.apache.spark.sql.expressions.Window
    // the knob algebra: floor 8 below the √K knee (K = 64), √K beyond,
    // bounded candidate mass at the K cap (256 probes · ~256 vectors/cell)
    assert(Similarity.ivfNProbe(32) == 8, "clamped corpora keep the r8 probe count")
    assert(Similarity.ivfNProbe(64) == 8, "knee of the probe scaling")
    assert(Similarity.ivfNProbe(65) == 9, "first step past the knee")
    assert(Similarity.ivfNProbe(3125) == 56, "sf1-scale codebook")
    assert(Similarity.ivfNProbe(65536) == 256, "probe count bounded at the K cap")

    // Tile the embedding corpus in memory (GenScale's rotation + disjoint
    // ids) to cross the K clamp, run the REAL centroid/assignment/probe
    // chain at each scale's (K, nprobe), and measure recall@5 against the
    // exact brute-force top-5 — the axis the row/hash oracle cannot see
    // because it recomputes the same probes. The floor pins that √K
    // probing holds recall as the probed cell FRACTION shrinks.
    val base0 = Tables.t(spark, sf, "embeddings")
    def recallAt(reps: Int, probeOverride: Int = 0): (Int, Int, Double) = {
      val tiled = (0 until reps).map { r =>
        (if (r == 0) base0 else base0.withColumn("embedding", expr(
          s"transform(sequence(0, 63), j -> element_at(embedding, ((j + $r) % 64) + 1))")))
          .withColumn("vec_id", col("vec_id") + lit(r * 2000L))
      }.reduce(_ unionAll _)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
        .persist()
      val n = tiled.count()
      val k = Similarity.scaledK(n)
      val nprobe = if (probeOverride > 0) probeOverride else Similarity.ivfNProbe(k)
      info(s"recallAt($reps): n=$n k=$k nprobe=$nprobe")
      val cents = Similarity.centroids(tiled, k)
      val cb = Similarity2.centroidArrays(cents)
      val assign = tiled.crossJoin(broadcast(cb))
        .withColumn("cell", expr("element_at(cids, argmin_l2(v, cvs) + 1)"))
        .select(col("vec_id").as("n_id"), col("cell"),
          col("v").as("nv"), col("n2").as("nn2"))
      val q = tiled.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
      val wProbe = Window.partitionBy(col("q_id"))
        .orderBy(col("qdist2").asc, col("cid").asc)
      val probes = q.crossJoin(broadcast(cents))
        .withColumn("qdist2", expr("l2_sq(qv, cv)"))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= nprobe)
        .select(col("q_id"), col("qv"), col("qn"), col("cid").as("cell"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      def top5(cand: org.apache.spark.sql.DataFrame) = cand
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("cos",
          expr("dot_product(qv, nv)") / (sqrt(col("qn")) * sqrt(col("nn2"))))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id")
      val ivf = top5(probes.join(assign, "cell"))
      val truth = top5(q.crossJoin(tiled.select(col("vec_id").as("n_id"),
        col("v").as("nv"), col("n2").as("nn2"))))
      val nt = truth.count()
      val hit = ivf.join(truth, Seq("q_id", "n_id"), "left_semi").count()
      tiled.unpersist()
      (k, nprobe, hit.toDouble / nt)
    }
    val (k1, p1, r1) = recallAt(1)  // N=500 → K=32 (clamped), nprobe=8
    val (k2, p2, r2) = recallAt(40) // N=20000 → K=78 (unclamped), nprobe=9
    assert(k1 == 32 && p1 == 8, s"base scale knobs drifted: K=$k1 nprobe=$p1")
    assert(k2 == 78 && p2 == 9, s"40× scale knobs drifted: K=$k2 nprobe=$p2")
    // This tiled corpus is IVF's WORST case: replicas are coordinate
    // rotations, so a query's true neighbors scatter across cells and
    // recall tracks the probed cell FRACTION (measured curve at K=78:
    // nprobe 9→0.40, 12→0.53, 18→0.58, 27→0.70, 39→0.93). The pinned
    // floors are the measured values minus margin — they make the
    // recall axis VISIBLE (r8's fixed nprobe=8 was silently below them),
    // not a claim that √K holds recall constant: holding recall on
    // adversarial data needs nprobe ∝ K (linear candidate mass), which
    // ann_topk already provides at fraction 1. SURVEY §5 documents the
    // curve and the binding point.
    assert(r1 >= 0.55, s"base-scale IVF recall@5 $r1 under the 0.55 floor")
    assert(r2 >= 0.35, s"40×-scale IVF recall@5 $r2 under the 0.35 floor")
    // sanity: the index itself is sound — probing half the cells recovers
    // ≥ 0.9, so the degradation above is the probe-fraction tradeoff, not
    // a broken assignment/candidate chain
    val (_, _, rHalf) = recallAt(40, probeOverride = 39)
    assert(rHalf >= 0.9,
      s"recall@5 at nprobe=K/2 is $rHalf — the candidate chain is broken, " +
        "not merely under-probed")
  }

  test("LSH banding: SQL embeds (b, r), detect_p matches pow, stricter banding nests") {
    import graft.operators.Similarity
    // the oracle SQL derives banding from the SAME two ints as the entry —
    // the CTE emits the band count and slice width literally
    val sql88 = Similarity.minhashPairsSqlWith(8, 8)
    assert(sql88.contains("range(0, 8) r(b)")
      && sql88.contains("list_slice(sig, 8*b+1, 8*b+8)"),
      "the oracle banding CTE must embed the (bands, rows) it is given")

    // ---- the S-curve chain: detectP's left-folded multiplication chain
    // must agree with libm pow to float-association tolerance at every
    // grid point, for the default AND three other bandings (the chain is
    // generated from the (b, r) ints — this pins the generator) ----
    val grid = spark.range(0, 21)
      .select((col("id").cast("double") / lit(20.0)).as("s_lo"))
    for ((b, r) <- Seq((16, 4), (8, 8), (4, 16), (32, 2))) {
      val got = grid.select(col("s_lo"),
        Similarity.detectP(col("s_lo"), b, r).as("p")).collect()
      got.foreach { row =>
        val s = row.getDouble(0)
        val want = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        assert(math.abs(row.getDouble(1) - want) < 1e-9,
          s"detectP chain drifted from pow at s=$s for ($b, $r)")
      }
      // the SQL mirror is the same chain: r copies of the base inside,
      // b copies of the complement outside
      val sqlP = Similarity.detectPSql("s_lo", b, r)
      assert("s_lo".r.findAllIn(sqlP).size == b * r,
        s"detectPSql must contain exactly bands*rows base references for ($b, $r)")
    }

    // ---- end-to-end nesting under a stricter banding: an intact
    // 8-row band is exactly two intact 4-row bands, so (8, 8) candidates
    // (threshold ~(1/8)^(1/8) ≈ 0.77) are a SUBSET of (16, 4) candidates
    // (≈ 0.5); verification is banding-independent, so the verified pair
    // sets nest too. This runs the REAL chain (minhashPairsWith — the
    // same constructor the entries call) at both bandings. ----
    val p164 = Similarity.minhashPairsWith(spark, sf, 16, 4).select("ia", "ib")
    val p88 = Similarity.minhashPairsWith(spark, sf, 8, 8).select("ia", "ib")
    val n164 = p164.count(); val n88 = p88.count()
    val escaped = p88.except(p164).count()
    assert(escaped == 0,
      s"$escaped verified (8,8) pairs missing from (16,4) — banding nesting broken")
    assert(n164 > 0, "sf0.001 must yield verified near-dup pairs at the default banding")
    info(s"verified pairs: (16,4)=$n164 ⊇ (8,8)=$n88")
  }

  test("BPE vocabulary: SQL unrolls (iters, batch), a (7, 3) run keeps batch invariants") {
    import graft.operators.Curation2
    // the oracle chain unrolls from the SAME ints: an 8-iteration chain
    // must emit CTEs through s8/b7 and stop there
    val sql8 = Curation2.bpeSqlChainWith(8, 4, 8)
    assert(sql8.contains("s8 AS MATERIALIZED") && sql8.contains("b7 AS")
      && !sql8.contains("b8 AS"),
      "bpeSqlChainWith must unroll exactly the configured iteration count")
    assert(Curation2.bpeLearnSqlTail(3).contains("UNION ALL SELECT 2")
      && !Curation2.bpeLearnSqlTail(3).contains("SELECT 3"),
      "the merge-table tail unions exactly the configured iterations")

    // a real (7, 3) run through the SAME constructor the entries call:
    // batch invariants hold at any (iters, batch) — per-iteration ranks
    // stay within the batch bound, iteration ids within the loop bound,
    // and a batch's symbols are pairwise disjoint (the parallel-greedy
    // guarantee that makes the one-pass fold order-independent)
    val (merges, syms) = Curation2.bpeChainWith(spark, sf, 7, 3)
    val rows = merges.collect()
    assert(rows.nonEmpty, "the (7, 3) chain must learn merges at sf0.001")
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 7),
      "iteration ids stay within the configured bound")
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3),
      "per-iteration merge ranks stay within the configured batch")
    rows.groupBy(_.getLong(0)).foreach { case (it, batchRows) =>
      val symsUsed = batchRows.flatMap(r => Seq(r.getString(2), r.getString(3)))
      assert(symsUsed.length == symsUsed.distinct.length,
        s"iteration $it batch shares a symbol — parallel greedy broken")
    }
    // the vocabulary actually compresses: total token count strictly
    // decreases vs the un-merged baseline
    val base = syms.selectExpr("sum(freq * length(word))").head().getLong(0)
    val after = syms.selectExpr(
      "sum(freq * size(syms))").head().getLong(0)
    assert(after < base,
      s"merged token count $after must be under the char baseline $base")
    info(s"(7,3) run: ${rows.length} merges, tokens $base → $after")
  }

  test("BPE parallel greedy matches a driver-side replay of the rule over " +
      "the real candidate pool (conflict density IS the batch-yield bound)") {
    import graft.operators.Curation2
    val candK = 64
    val batch = 32
    val pool = Curation2.bpeCandPool(Curation2.bpeInitSyms(spark, sf), candK)
      .orderBy("rk0").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(pool.nonEmpty && pool.length <= candK)
    // pool ordering is (cnt desc, l, r) — the rank stamp must agree
    assert(pool.zipWithIndex.forall { case ((_, _, _, rk0), i) => rk0 == i + 1 },
      "rank stamps must be dense in pool order")
    // replay the declarative rule EXACTLY: keep a candidate iff NO
    // higher-ranked candidate (kept or not) shares a symbol with it
    val expect = pool.zipWithIndex.collect {
      case ((l, r, _, _), i) if !pool.take(i).exists { case (l2, r2, _, _) =>
        l2 == l || l2 == r || r2 == l || r2 == r } => (l, r)
    }.take(batch)
    val got = Curation2
      .bpeGreedyKeep(Curation2.bpeCandPool(Curation2.bpeInitSyms(spark, sf),
        candK), batch)
      .orderBy("rk").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == expect.toSeq,
      s"parallel-greedy batch drifted from the rule replay: " +
        s"got ${got.toSeq}, want ${expect.toSeq}")
    // the conflict-density measurement the SURVEY §5 batch claim rests
    // on: yield = kept / min(batch, pool) — high-frequency pairs chain-
    // share symbols, so yield < 1 is expected and BOUNDS usable M
    info(f"pool $candK → kept ${got.length} " +
      f"(yield ${got.length.toDouble / math.min(batch, pool.length)}%.2f)")
    assert(got.nonEmpty, "a non-empty pool must yield at least rank 1")
  }

  test("two-level quantizer: clamps compose; fine split keeps pairwise linear") {
    import graft.operators.{Similarity, Similarity2}
    // coarse level: broadcastable at any N, population target 65536
    assert(Similarity2.hierK1(500) == 32, "min clamp")
    assert(Similarity2.hierK1(16777216) == 256, "single-level ceiling is mid-range here")
    assert(Similarity2.hierK1(1L << 40) == 65536, "coarse cap = broadcast bound")
    // fine level: sized from the CELL population, byte-bounded
    assert(Similarity2.hierK2(500) == 1)
    assert(Similarity2.hierK2(65536) == 256)
    assert(Similarity2.hierK2(1L << 30) == 256, "fine cap")
    // composed capacity: population ~256 holds while N ≤ k1·65536, and
    // each saturated coarse cell re-splits 256-way — the binding point
    // moves from 16.7M (single-level) to ~1.1e15 vectors
    assert(Similarity2.hierK1(65536L * 65536) == 65536)

    // empirical: run the REAL two-level assignment (coarse broadcast
    // argmin + per-cell md5-sampled fine codebooks + co-partitioned fine
    // argmin) at two corpus sizes with the fine split ACTIVE on both
    // sides (k2 = 2 → 4) and check the mechanism: fine cell count scales
    // with N, mean population stays bounded by construction
    // (pop / (pop div 256) ≤ 512 once pop ≥ 256), and pairwise work
    // stays sub-quadratic. At these sizes k1 pins at 32, so the scaling
    // comes entirely from the SECOND level — exactly the path that
    // extends past kMax. Tiling mirrors GenScale exactly (rotation +
    // sign flips past replica 64: reps = 80 here, and WITHOUT the flips
    // replicas 64..79 are byte-twins of 0..15 whose zero-distance pairs
    // skew every fine cell they touch). Everything is deterministic
    // (md5 sampling), so the measured ratios are stable, not flaky.
    import org.apache.spark.sql.expressions.Window
    val base0 = Tables.t(spark, sf, "embeddings") // 500 vectors at sf0.001
    def hierWork(reps: Int): (Long, Long, Long) = {
      val tiled = (0 until reps).map { r =>
        (if (r == 0) base0 else {
          val sg = GenScale.signs(r)
          val rot = s"element_at(embedding, ((j + $r) % 64) + 1)"
          val body = if (sg.forall(_ == 1)) rot
            else s"CAST($rot * element_at(array(${sg.mkString(",")}), j + 1) AS FLOAT)"
          base0.withColumn("embedding", expr(s"transform(sequence(0, 63), j -> $body)"))
        }).withColumn("vec_id", col("vec_id") + lit(r * 2000L))
      }.reduce(_ unionAll _)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", expr("dot_product(v, v)"))
        .persist()
      val n = tiled.count()
      val cb1 = Similarity2.centroidArrays(
        Similarity.centroids(tiled, Similarity2.hierK1(n)))
      val a1 = tiled.crossJoin(broadcast(cb1))
        .withColumn("coarse_id", expr("element_at(cids, argmin_l2(v, cvs) + 1)"))
        .select(col("vec_id"), col("coarse_id"), col("v"))
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
      val fineRow = a1.join(fineCb, "coarse_id")
        .withColumn("fine_id", expr("element_at(fids, argmin_l2(v, fvs) + 1)"))
        .groupBy("coarse_id", "fine_id").agg(count(lit(1)).as("m"))
        .agg(count(lit(1)).as("cells"),
          sum(expr("m * (m - 1) / 2")).cast("long").as("pairs")).head
      tiled.unpersist()
      (n, fineRow.getLong(0), fineRow.getLong(1))
    }
    val (n1, cells1, p1) = hierWork(40) // N=20k: pop≈625 → k2=2
    val (n2, cells2, p2) = hierWork(80) // N=40k: pop≈1250 → k2=4
    // cell count scales with the corpus (the capacity IS ∝ N)...
    assert(cells2 > cells1 * 3 / 2, s"fine cells did not scale: $cells1 → $cells2")
    // ...and mean population stays under the construction bound
    assert(n1 / cells1 <= 512 && n2 / cells2 <= 512,
      s"mean fine population exceeded the pop/(pop div 256) ≤ 512 bound")
    // pairwise work: sub-quadratic at 2× data. The bound is looser than
    // the single-level test's because k2 ∈ {2, 4} sits in the small-k
    // Voronoi regime where random-sample cell masses are heavy-tailed on
    // ball-structured corpora (measured 2.88× here, deterministic);
    // balance improves as k2 grows toward 256 at production scale.
    val growth = p2.toDouble / p1
    assert(growth < 3.2,
      s"two-level pairwise work grew ${growth}× at 2× data ($p1 → $p2) — fine split not scaling")
  }

  test("vector-heavy mode: table subset; sign flips extend past the rotation family") {
    val dir = specTempDir("genvec")
    GenScale.run(spark, sf, dir, 66, Set("embeddings"))
    val files = new java.io.File(dir).list().toSet
    assert(files == Set("embeddings.parquet"), s"subset mode wrote $files")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = Tables.t(spark, sf, "embeddings")
    val n0 = base.count()
    assert(emb.count() == 66 * n0)
    // replica 64's rotation is the identity — without sign flips every
    // vector would be a byte-twin of replica 0 (identical-vector twins
    // across replicas turn ANN structure quadratic, the artifact GenScale
    // exists to avoid). The seeded ±1 pattern must decorrelate them while
    // preserving magnitudes exactly (sign flips never round floats).
    val r64 = emb.filter(col("vec_id") >= 64 * 2000L && col("vec_id") < 65 * 2000L)
      .withColumn("vec_id", col("vec_id") - 64 * 2000L)
      .join(base.select(col("vec_id"), col("embedding").as("e0")), "vec_id")
    assert(r64.filter(expr(
      "forall(sequence(0, 63), j -> element_at(embedding, j + 1) = element_at(e0, j + 1))"))
      .count() == 0, "replica 64 reproduced replica 0 — rotation family exhausted unnoticed")
    assert(r64.filter(expr(
      "exists(sequence(0, 63), j -> abs(element_at(embedding, j + 1)) <> abs(element_at(e0, j + 1)))"))
      .count() == 0, "sign flip changed a magnitude — must be exact on floats")
    // and the sign pattern is per-replica: 64 vs 65 are decorrelated too
    assert(GenScale.signs(64).toSeq != GenScale.signs(65).toSeq)
    assert(GenScale.signs(64).count(_ == -1) > 10, "sign draw should be ~balanced")
  }

  test("empty documents survive the replica rotation unchanged") {
    import spark.implicits._
    val srcDir = specTempDir("gensrc")
    val outDir = specTempDir("genout")
    Seq((0L, "web", "en", "hello world 42", 14L), (1L, "web", "en", "", 0L))
      .toDF("doc_id", "source", "lang", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$srcDir/documents.parquet")
    GenScale.run(spark, srcDir, outDir, 2, Set("documents"))
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    assert(docs.count() == 4)
    // replica 1 of the empty doc: text '' (NOT null — r % length('') is
    // NULL under non-ANSI modulo and would null every downstream shingle)
    val r1 = docs.filter(col("doc_id") === 5001L).head()
    assert(r1.getAs[String]("text") == "", "empty doc nulled by the rotation")
    assert(r1.getAs[Number]("n_chars").longValue == 0L)
    // the non-empty doc is still permuted+rotated (differs from base)
    val r0 = docs.filter(col("doc_id") === 5000L).head()
    assert(r0.getAs[String]("text") != "hello world 42")
    assert(r0.getAs[String]("text").length == 14)
  }

  test("lshQ keeps bucket candidates linear across the corpus-width knee") {
    import graft.operators.Similarity
    val base0 = Tables.t(spark, sf, "embeddings")
    // tile in-memory exactly like GenScale (rotation + sign flips would
    // both do; rotation suffices below 64 reps) to two corpus sizes whose
    // lshQ differ, and count bucket-join candidate pairs Σ n·(n−1)/2
    def candWork(reps: Int): (Int, Long) = {
      val tiled = (0 until reps).map { r =>
        (if (r == 0) base0 else base0.withColumn("embedding", expr(
          s"transform(sequence(0, 63), j -> element_at(embedding, ((j + $r) % 64) + 1))")))
          .withColumn("vec_id", col("vec_id") + lit(r * 2000L))
      }.reduce(_ unionAll _)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val n = tiled.count()
      val q = Similarity.lshQ(n)
      val pairs = tiled
        .select(posexplode(expr(s"lsh_sigs(v, $q)")).as(Seq("t", "sig")))
        .groupBy("t", "sig").agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) / 2")).cast("long")).head.getLong(0)
      (q, pairs)
    }
    val (q1, p1) = candWork(3) // N=6k → q=10
    val (q2, p2) = candWork(6) // N=12k → q=11
    assert(q2 == q1 + 1, s"expected one width step, got q=$q1 → q=$q2")
    val growth = p2.toDouble / p1
    assert(growth < 3.0,
      s"bucket candidate work grew ${growth}× at 2× data ($p1 → $p2) — not linear")
  }

  test("Components loop parallelism scales with the edge count") {
    import graft.operators.Components
    assert(Components.loopPartitions(1000) == 4, "tiny graphs keep the narrow floor")
    assert(Components.loopPartitions(1000000) == 4)
    assert(Components.loopPartitions(250000000L) == 1000)
    assert(Components.loopPartitions(2500000000L) == 10000, "1B+ edges fan out")
  }

  test("embedding replicas are rotations with disjoint ids and fresh labels") {
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val base = Tables.t(spark, sf, "embeddings")
    val n0 = base.count()
    assert(emb.count() == 2 * n0)
    val bad = emb.filter(col("vec_id") >= 2000L)
      .withColumn("vec_id", col("vec_id") - 2000L)
      .join(base.select(col("vec_id"), col("embedding").as("e0")), "vec_id")
      .filter(expr(
        "exists(sequence(0, 63), j -> element_at(embedding, j + 1) <> element_at(e0, ((j + 1) % 64) + 1))"))
      .count()
    assert(bad == 0, s"$bad replica vectors are not clean rotations")
    assert(emb.filter(col("vec_id") >= 2000L).filter(col("label") < 10).count() == 0,
      "replica labels must not collide with base labels")
  }

  test("semantic dedup routes to the two-level quantizer past the K clamp") {
    import operators.{Similarity, Similarity2}
    val clampN = Similarity.kMax.toLong * Similarity.clusterTarget // 16.7M
    // the boundary is exact: one vector below the clamp the single-level
    // path still holds population ≤ clusterTarget; at the clamp it is the
    // hierarchical entry's regime
    assert(Similarity2.semanticPath(clampN - 1) == "dd_semantic")
    assert(Similarity2.semanticPath(clampN) == "dd_semantic_hier")
    assert(Similarity.scaledK(clampN - 1) < Similarity.kMax)
    assert(Similarity.scaledK(clampN) == Similarity.kMax)
    // past the clamp the single-level population grows with the corpus
    // while the two-level effective population stays bounded through the
    // coarse codebook's own capacity (coarseTarget · kMax ≈ 4.3e9)
    for (n <- Seq(clampN, 100000000L, 1000000000L, 4294967296L)) {
      val single = n / Similarity.scaledK(n)
      val cell = n / Similarity2.hierK1(n)
      val hier = cell / Similarity2.hierK2(cell)
      assert(single >= Similarity.clusterTarget,
        s"n=$n: single-level population $single should be at/past the target")
      assert(hier <= Similarity.clusterTarget,
        s"n=$n: hier population $hier must stay ≤ ${Similarity.clusterTarget}")
      assert(hier <= single, s"n=$n: routing must never lose population bound")
    }
    // beyond the coarse capacity the hier population grows only as
    // n / (kMax · 256) — linear with a 1.7e7 divisor, not quadratic-class
    val far = 1000000000000L // 1e12
    val farCell = far / Similarity2.hierK1(far)
    val farPop = farCell / Similarity2.hierK2(farCell)
    assert(farPop == far / (Similarity2.coarseTarget.toLong * 256L))
  }

  test("capstone decontamination bench set is FIXED-SIZE across corpus scale") {
    // the r9 sf1 regression class: a corpus-proportional bench stand-in
    // (doc_id % 97 alone) grows its 8-gram union with the corpus until
    // background containment crosses the 0.5 gate and the pipeline
    // empties. The bounded set (ids < 600) must not grow with replicas,
    // and the capstone must stay non-empty at 2× data.
    def benchGrams(dir: String): Long =
      Tables.t(spark, dir, "documents")
        .filter(col("doc_id") % 97 === 0 && col("doc_id") < 600)
        .select(explode(expr("char_shingles(text, 8)")).as("sg"))
        .distinct().count()
    val b1 = benchGrams(sf)
    val b2 = benchGrams(out)
    assert(b1 == b2,
      s"bench shingle set grew with the corpus ($b1 → $b2) — the " +
        "decontamination gate is corpus-proportional again")
    assert(SparkEntry.queries("ta_pipeline_curate")(spark, out).count() > 0,
      "the capstone emptied at 2× data")
  }

  test("dd_span_scrub: removal mass scales linearly across replicas") {
    // GenScale replicas are per-replica character bijections, so a
    // replica's internal duplicated-span structure replicates verbatim and
    // cross-replica span collisions are (near-)impossible — total removed
    // tokens must ~double at 2× data. A super-linear growth here would
    // mean the canonical-occurrence rule is leaking removals across
    // replicas (the quadratic failure mode of global dedup).
    val base = SparkEntry.queries("dd_span_scrub")(spark, sf)
      .agg(sum("n_removed")).head.getLong(0)
    val tiled = SparkEntry.queries("dd_span_scrub")(spark, out)
      .agg(sum("n_removed")).head.getLong(0)
    assert(base > 0, "the base corpus plants duplicated spans")
    val growth = tiled.toDouble / base
    assert(growth >= 1.8 && growth <= 2.3,
      s"removed-token mass grew ${growth}× at 2× data ($base → $tiled) — not linear")
  }

  test("containment prefix-filter candidates grow linearly across replicas") {
    import operators.TextOps2
    // Replica texts are char-translated + rotated, so word-8-gram spans
    // are DISJOINT across replicas: the inverted index splits into
    // per-replica islands and the exact prefix-filter candidate set must
    // grow ~2x at 2x corpus (seam tokens at the rotation point shift a
    // few spans per doc, hence the tolerance) — a quadratic candidate
    // scheme (or a df-cap gone blind) would show ~4x here.
    val c1 = TextOps2.containmentCandidates(
      TextOps2.containmentSpans(spark, sf)).count()
    val c2 = TextOps2.containmentCandidates(
      TextOps2.containmentSpans(spark, out)).count()
    assert(c1 > 0, "base corpus must produce candidates")
    assert(c2 <= math.ceil(2.5 * c1).toLong,
      s"candidates must stay ~linear: $c1 -> $c2 at 2x corpus")
    assert(c2 >= (1.5 * c1).toLong,
      s"replica structure should roughly double candidates: $c1 -> $c2")
  }
}
