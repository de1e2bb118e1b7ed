package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Property-level checks for the sketch/probabilistic operators whose
  * value-level output has no SQL oracle (SURVEY §2.3 rows-only rows). */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("minhash signature estimates Jaccard on synthetic near-dups") {
    // two 90%-overlapping shingle sets + one disjoint
    val base = (0 until 100).map(i => s"shingle_$i")
    val near = (0 until 90).map(i => s"shingle_$i") ++ (0 until 10).map(i => s"other_$i")
    val far = (0 until 100).map(i => s"far_$i")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "sh")
      .withColumn("sig", expr("minhash_sig(sh)"))
    val sigs = df.orderBy("id").collect().map(_.getAs[scala.collection.Seq[Long]]("sig"))
    def est(a: scala.collection.Seq[Long], b: scala.collection.Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(est(sigs(0), sigs(1)) > 0.6, "near-dup estimate too low")
    assert(est(sigs(0), sigs(2)) < 0.2, "disjoint estimate too high")
  }

  test("simhash: near-identical token lists land within small hamming distance") {
    val a = (0 until 200).map(i => s"tok_$i")
    val b = (0 until 196).map(i => s"tok_$i") ++ Seq("x1", "x2", "x3", "x4")
    val c = (0 until 200).map(i => s"zzz_$i")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "toks")
      .withColumn("h", expr("simhash64(toks)"))
    val hs = df.orderBy("id").collect().map(_.getAs[Long]("h"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs(0), hs(1)) <= 12, s"near docs hamming ${ham(hs(0), hs(1))}")
    assert(ham(hs(0), hs(2)) >= 20, s"far docs hamming ${ham(hs(0), hs(2))}")
  }

  test("sign-LSH finds planted exact near-duplicates") {
    // plant: vector 1 = vector 0 with tiny noise → cosine ~1 → same buckets
    val rnd = new scala.util.Random(7)
    val v0 = Array.fill(64)(rnd.nextGaussian())
    val v1 = v0.map(_ * 1.001 + 1e-6)
    val others = (2 to 40).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian()).toSeq))
    val df = (Seq((0L, v0.toSeq), (1L, v1.toSeq)) ++ others).toDF("vec_id", "v")
      .withColumn("sigs", expr("lsh_sigs(v, 8)"))
    val s0 = df.filter($"vec_id" === 0L).select("sigs").head.getAs[scala.collection.Seq[Int]](0)
    val s1 = df.filter($"vec_id" === 1L).select("sigs").head.getAs[scala.collection.Seq[Int]](0)
    assert(s0.zip(s1).exists { case (a, b) => a == b },
      "planted near-dup must collide in at least one LSH table")
  }

  test("dot_product matches naive computation") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(expr("dot_product(a, b)")).head.getDouble(0)
    assert(d == 32.0)
  }

  test("minhash_union aggregate: sketch of a group ~ sketch of concatenation") {
    val docs = Seq(
      (1L, "g1", (0 until 100).map(i => s"sh_$i")),
      (2L, "g1", (50 until 150).map(i => s"sh_$i")),
      (3L, "g2", (0 until 150).map(i => s"sh_$i"))) // g2 = union of g1's sets
      .toDF("id", "g", "sh")
      .withColumn("sig", expr("minhash_sig(sh)"))
    val union = docs.groupBy("g").agg(expr("minhash_union(sig)").as("usig"))
      .orderBy("g").collect().map(_.getAs[scala.collection.Seq[Long]]("usig"))
    // identical underlying sets → identical sketches
    assert(union(0) == union(1), "union sketch must equal the sketch of the unioned set")
  }

  test("IVF search recall: probing 8 of 32 cells finds most brute-force top-5") {
    val ivf = SparkEntry.queries("ann_ivf")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("ann_topk")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    // sf0.001 embeddings are near-random (little cluster structure), so the
    // bar is: recall must clearly beat the probed cell fraction (8/32).
    assert(recall >= 0.35, s"IVF recall vs brute force too low: $recall")
  }

  test("OpCache gives the persisted feature store an explicit lifecycle") {
    import org.apache.spark.storage.StorageLevel
    // an entry run pins the shared feature table(s)...
    SparkEntry.queries("dd_embed_cosine")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val tracked = graft.operators.OpCache.trackedFor(spark)
    assert(tracked.nonEmpty, "entry run should pin the shared feature table")
    assert(tracked.exists(_.storageLevel != StorageLevel.NONE),
      "at least one pinned table should be persisted")
    // ...and release() frees every one of them (no immortal persist)
    graft.operators.OpCache.release(spark)
    assert(tracked.forall(_.storageLevel == StorageLevel.NONE),
      "release must unpersist every pinned table")
    assert(graft.operators.OpCache.trackedFor(spark).isEmpty)
  }

  test("OpCache.releaseScoped frees entry-local pins but keeps warmup memos") {
    import org.apache.spark.storage.StorageLevel
    // dd_ngram_jaccard pins an entry-local candidate-pair table (direct
    // track) AND pulls the memoized gram3 feature snapshot (memo→track)
    SparkEntry.queries("dd_ngram_jaccard")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val before = graft.operators.OpCache.trackedFor(spark)
    assert(before.nonEmpty)
    graft.operators.OpCache.releaseScoped(spark)
    val after = graft.operators.OpCache.trackedFor(spark)
    // entry-local pins dropped...
    assert(after.size < before.size,
      s"releaseScoped should drop the entry-local pin (${before.size} -> ${after.size})")
    // ...while every surviving pin is a still-persisted memo table
    assert(after.forall(_.storageLevel != StorageLevel.NONE),
      "memoized feature tables must survive releaseScoped still persisted")
    // and the memoized table is REUSED, not rebuilt: a second run still
    // works and the entry's results are unchanged
    val n1 = SparkEntry.queries("dd_ngram_jaccard")(spark, sf).count()
    graft.operators.OpCache.releaseScoped(spark)
    val n2 = SparkEntry.queries("dd_ngram_jaccard")(spark, sf).count()
    assert(n1 == n2, "scoped release must not change entry results")
    graft.operators.OpCache.release(spark)
  }

  test("phash collapse: identical components, linear edges on a hot fingerprint") {
    import graft.operators.{Components, Multimodal}
    // 40 docs share ONE exact fingerprint (the "blank image stored 10M
    // times" shape), 3 near fingerprints within hamming<=8 of it, 1 far
    // fingerprint that band-collides (b2/b3 intact) but fails the verify.
    val hot = 0x5A5A5A5A5A5A5A5AL
    val fps = (0L until 40L).map(_ -> hot) ++ Seq(
      100L -> (hot ^ 0x1L), 101L -> (hot ^ 0x6L), 102L -> (hot ^ 0x30L),
      200L -> (hot ^ 0xFFFFFFFFL))
    val ph = fps.map { case (id, f) =>
      (id, (f >>> 48) & 0xffff, (f >>> 32) & 0xffff,
        (f >>> 16) & 0xffff, f & 0xffff)
    }.toDF("doc_id", "b3", "b2", "b1", "b0")
    val full = Multimodal.bandVerify(ph, Multimodal.phashThr(16)).select("ia", "ib")
    val coll = Multimodal.collapsedEdges(ph, Multimodal.phashThr(16))
    // full banding is quadratic in the hot group; the collapse is linear
    assert(full.count() >= 40L * 39 / 2, "full banding should be all-pairs on the hot group")
    assert(coll.count() <= 39 + 6, s"collapsed edges must be linear, got ${coll.count()}")
    // and the component structure is bit-identical
    def lab(e: org.apache.spark.sql.DataFrame) =
      Components.minLabel(spark, e).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lab(full) == lab(coll), "collapse changed the components")
    // the far fingerprint never survives the verify in either edge set
    assert(!lab(coll).exists(_._1 == 200L))
  }

  test("KMV sketch estimate within 3 standard errors of exact distinct") {
    // q_approx_distinct's estimator: k=256 → relative stderr ≈ 1/√(k-1) ≈ 6.3%
    val res = SparkEntry.queries("q_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    val exact = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (flag, nd) =>
      val est = res(flag)._1
      assert(math.abs(est - nd) / nd < 0.19,
        s"flag=$flag est=$est exact=$nd (beyond 3σ for k=256)")
    }
  }
}
