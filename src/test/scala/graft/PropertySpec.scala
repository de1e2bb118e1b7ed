package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property-based checks over the native expressions (ScalaCheck
  * generators, seeded deterministic sampling): invariants that must hold
  * for ANY input, not just the test corpus. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** deterministic forAll: n seeded samples from the generator */
  private def forAll[A](gen: Gen[A], n: Int = 25)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val strList = Gen.listOfN(30, Gen.alphaLowerStr.suchThat(_.nonEmpty)).map(_.distinct)

  test("jaccard_sim ∈ [0,1], symmetric, 1 on self") {
    forAll(Gen.zip(strList, strList)) { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val df = Seq((a, b)).toDF("a", "b")
        val j1 = df.select(expr("jaccard_sim(a, b)")).head.getDouble(0)
        val j2 = df.select(expr("jaccard_sim(b, a)")).head.getDouble(0)
        assert(j1 >= 0.0 && j1 <= 1.0 && j1 == j2)
        val self = Seq((a, a)).toDF("a", "b")
          .select(expr("jaccard_sim(a, b)")).head.getDouble(0)
        assert(self == 1.0)
      }
    }
  }

  test("minhash signature agreement tracks exact Jaccard within ±0.25") {
    val gen = for {
      base <- Gen.listOfN(80, Gen.identifier.suchThat(_.nonEmpty)).map(_.distinct)
      keep <- Gen.choose(0, base.length)
    } yield (base, base.take(keep) ++ (1 to (base.length - keep)).map("x" + _))
    forAll(gen, 15) { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val exact = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
        val df = Seq((a, b)).toDF("a", "b")
          .select(expr("minhash_sig(a)").as("sa"), expr("minhash_sig(b)").as("sb"))
          .select(expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (s, x) -> s + x) / CAST(64 AS DOUBLE)"))
        val est = df.head.getDouble(0)
        assert(math.abs(est - exact) <= 0.25, s"exact=$exact est=$est")
      }
    }
  }

  test("cidr_contains agrees with arithmetic model for random ips/prefixes") {
    val ipGen = Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
    val cidrGen = for { ip <- ipGen; len <- Gen.choose(0, 32) } yield s"$ip/$len"
    forAll(Gen.zip(ipGen, cidrGen), 40) { case (ip, cidr) =>
      val got = Seq((cidr, ip)).toDF("c", "i")
        .select(expr("cidr_contains(c, i)")).head.getBoolean(0)
      def toLong(s: String) = s.split('.').map(_.toLong).reduce((a, b) => (a << 8) | b)
      val Array(net, len) = cidr.split('/')
      val shift = 32 - len.toInt
      val want = (toLong(ip) >>> shift) == (toLong(net) >>> shift)
      assert(got == want, s"$cidr contains $ip: got=$got want=$want")
    }
  }

  test("char_shingles equals the array_distinct/transform SQL formulation") {
    val sGen = Gen.listOfN(40, Gen.frequency(5 -> Gen.alphaNumChar, 1 -> Gen.const(' ')))
      .map(_.mkString)
    forAll(sGen, 20) { s =>
      if (s.length >= 3) {
        val df = Seq(Tuple1(s)).toDF("s")
        val fast = df.select(expr("char_shingles(s, 3)")).head.getSeq[String](0)
        val ref = df.select(expr(
          "array_distinct(transform(sequence(1, length(s) - 2), i -> substring(s, i, 3)))"))
          .head.getSeq[String](0)
        assert(fast == ref, s"input='$s'")
      }
    }
    // non-BMP pin (the generator corpus is ASCII and can't provide it):
    // Spark substring counts codepoints, so UTF-16-unit shingling would
    // split surrogates and shift every gram on supplementary characters
    Seq("ab🍕cd🎸ef🚀gh", "🍕🎸🚀🍕🎸🚀", "mixed 🍕 text 🎸 here").foreach { s0 =>
      val df = Seq(Tuple1(s0)).toDF("s")
      val fast = df.select(expr("char_shingles(s, 3)")).head.getSeq[String](0)
      val ref = df.select(expr(
        "array_distinct(transform(sequence(1, length(s) - 2), i -> substring(s, i, 3)))"))
        .head.getSeq[String](0)
      assert(fast == ref, s"non-BMP input='$s0'")
    }
  }

  test("simpson_stats counts codepoints, not UTF-16 units (non-BMP pin)") {
    // n_chars and the char histogram must use the SQL character unit
    // (codepoints — split(s, '') keeps surrogate pairs together); a
    // charAt-per-unit implementation counts an emoji as two half-chars
    Seq("🍕🍕a bb 🍕", "🎸 x 🎸 x 🚀", "plain ascii words").foreach { s0 =>
      val row = Seq(Tuple1(s0)).toDF("s").select(
        expr("simpson_stats(s)").as("st"),
        expr("CAST(length(s) AS BIGINT)").as("ncp"),
        expr("CAST(aggregate(transform(array_distinct(filter(split(s, ''), x -> x <> '')), " +
          "ch -> CAST(size(filter(split(s, ''), x -> x = ch)) AS BIGINT)), " +
          "0L, (a, c) -> a + c * c) AS BIGINT)").as("csq")).head
      assert(row.getStruct(0).getAs[Long]("n_chars") == row.getAs[Long]("ncp"),
        s"n_chars diverged on '$s0'")
      assert(row.getStruct(0).getAs[Long]("char_sumsq") == row.getAs[Long]("csq"),
        s"char_sumsq diverged on '$s0'")
    }
  }

  test("winnow_stats indexes by codepoint: matches the SQL formulation on non-BMP text") {
    // Spark's length()/substring() count CODEPOINTS (UTF8String), exactly
    // like DuckDB's — so this in-plan reference formulation IS the oracle
    // semantics. A UTF-16-indexed native implementation (the pre-r9 bug)
    // diverges on any supplementary character: 20 pizza emoji are 20
    // codepoints but 40 UTF-16 units, shifting every gram boundary.
    val hExpr = "transform(sequence(1, length(s) - 7), " +
      "i -> CAST(conv(substring(md5(substring(s, i, 8)), 1, 8), 16, 10) AS BIGINT))"
    val picksExpr = "array_distinct(transform(sequence(1, size(h) - 3), wi -> " +
      "aggregate(sequence(wi + 1, wi + 3), " +
      "element_at(h, wi) * 100000L + CAST(wi AS BIGINT), " +
      "(acc, j) -> IF(element_at(h, j) <= acc DIV 100000L, " +
      "element_at(h, j) * 100000L + CAST(j AS BIGINT), acc))))"
    val samples = Seq(
      "the quick 🍕 brown 🎸 fox jumps over the 🚀 lazy dog",
      "🍕🎸🚀" * 6,
      "plain ascii text with no supplementary characters at all here")
    samples.foreach { s0 =>
      val row = Seq(Tuple1(s0)).toDF("s")
        .withColumn("h", expr(hExpr))
        .withColumn("picks", expr(picksExpr))
        .select(expr("winnow_stats(s)").as("st"),
          expr("CAST(size(h) - 3 AS BIGINT)").as("ref_windows"),
          expr("CAST(size(picks) AS BIGINT)").as("ref_fp"),
          expr("aggregate(picks, 0L, (a, x) -> a + x)").as("ref_sum"))
        .head
      val st = row.getStruct(0)
      assert(st.getAs[Long]("n_windows") == row.getAs[Long]("ref_windows"),
        s"n_windows diverged on '$s0'")
      assert(st.getAs[Long]("n_fp") == row.getAs[Long]("ref_fp"),
        s"n_fp diverged on '$s0'")
      assert(st.getAs[Long]("fp_sum") == row.getAs[Long]("ref_sum"),
        s"fp_sum diverged on '$s0'")
    }
  }

  test("cdc_chunks folds codepoints, not UTF-8 bytes (non-BMP pin)") {
    // Independent reference for the DuckDB oracle's semantics: boundary
    // at codepoint position i (16 ≤ i ≤ length) where the left-to-right
    // fold (acc·257 + cp) mod 2^20 over the trailing 16 CODEPOINTS is
    // ≡ 0 (mod 64); chunk identity = md5 of the UTF-8 bytes of the
    // codepoint substring. A byte-folding kernel (the pre-r10 bug)
    // shifts every boundary on any multi-byte character.
    def ref(s0: String): Seq[String] = {
      val cps = s0.codePoints().toArray
      val bounds = scala.collection.mutable.ArrayBuffer[Int]()
      for (i <- 16 to cps.length) {
        var acc = 0L
        ((i - 16) until i).foreach { k => acc = (acc * 257 + cps(k)) % 1048576L }
        if (acc % 64 == 0) bounds += i
      }
      if (bounds.isEmpty || bounds.last != cps.length) bounds += cps.length
      val md = java.security.MessageDigest.getInstance("MD5")
      var lo = 0
      bounds.toSeq.map { hi =>
        val chunk = new String(cps, lo, hi - lo)
        lo = hi
        md.reset()
        md.digest(chunk.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }
    }
    val sGen = Gen.listOfN(120, Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "ß", "ü"),          // 2-byte UTF-8
      1 -> Gen.oneOf("中", "文", "語"),        // 3-byte UTF-8
      1 -> Gen.oneOf("🍕", "🎸", "🚀"))).map(_.mkString) // 4-byte, non-BMP
    forAll(sGen, 15) { s0 =>
      val got = Seq(Tuple1(s0)).toDF("s")
        .select(expr("cdc_chunks(s)")).head.getSeq[String](0)
      assert(got == ref(s0), s"cdc_chunks diverged on '$s0'")
    }
    // plus fixed cases: all-supplementary, short (< window), empty
    Seq("🍕🎸🚀" * 8, "短い", "").foreach { s0 =>
      val got = Seq(Tuple1(s0)).toDF("s")
        .select(expr("cdc_chunks(s)")).head.getSeq[String](0)
      assert(got == ref(s0), s"cdc_chunks diverged on '$s0'")
    }
  }

  test("cdc_chunks never reads past the buffer on invalid UTF-8") {
    // UTF8String is not validated, so binary→string casts can hand the
    // kernel truncated multi-byte leads or stray continuation bytes; the
    // decode loop must consume them defensively (bounded reads, one unit
    // per invalid byte) instead of throwing ArrayIndexOutOfBounds or
    // swallowing trailing bytes. The pin is a REFERENCE chunker written
    // from the spec (decode one unit per invalid byte; window-16
    // codepoint fold mod 2^20, boundary at ≡0 mod 64; md5 per byte
    // range) — chunk hashes must cover every input byte exactly once,
    // split at exactly the spec boundaries.
    import org.apache.spark.unsafe.types.UTF8String
    def refChunks(bytes: Array[Byte]): Seq[String] = {
      val cps = scala.collection.mutable.ArrayBuffer[Int]()
      val offs = scala.collection.mutable.ArrayBuffer[Int]()
      val nb = bytes.length
      var bi = 0
      while (bi < nb) {
        offs += bi
        val b0 = bytes(bi) & 0xff
        val want = if (b0 < 0x80) 1
          else if ((b0 & 0xe0) == 0xc0) 2
          else if ((b0 & 0xf0) == 0xe0) 3
          else if ((b0 & 0xf8) == 0xf0) 4 else 1
        if (want > 1 && bi + want <= nb &&
            (1 until want).forall(k => (bytes(bi + k) & 0xc0) == 0x80)) {
          var cp = b0 & (0x3f >> (want - 1))
          (1 until want).foreach(k => cp = (cp << 6) | (bytes(bi + k) & 0x3f))
          cps += cp
          bi += want
        } else { cps += b0; bi += 1 } // invalid: one unit, the raw byte
      }
      offs += nb
      val bounds = scala.collection.mutable.ArrayBuffer[Int]()
      (16 to cps.length).foreach { i =>
        var acc = 0L
        (i - 16 until i).foreach(k => acc = (acc * 257 + cps(k)) % 1048576L)
        if (acc % 64L == 0) bounds += i
      }
      if (bounds.isEmpty || bounds.last != cps.length) bounds += cps.length
      val md = java.security.MessageDigest.getInstance("MD5")
      var lo = 0
      bounds.toSeq.map { hi =>
        md.reset(); md.update(bytes, offs(lo), offs(hi) - offs(lo))
        lo = hi
        md.digest().map(b => f"$b%02x").mkString
      }
    }
    val rng = new scala.util.Random(7)
    val fuzz = (1 to 20).map(_ =>
      Array.fill(rng.nextInt(120) + 1)(rng.nextInt(256).toByte))
    val cases = Seq[Array[Byte]](
      Array(0xe4).map(_.toByte),                          // truncated 3-byte lead
      Array(0xf0, 0x9f).map(_.toByte),                    // truncated 4-byte lead
      Array(0x80).map(_.toByte),                          // stray continuation
      Array(0x41, 0x80, 0x42).map(_.toByte),              // continuation mid-stream
      Array.fill(40)(0xe4.toByte),                        // lead-only run > window
      (("abcdefgh" * 4).getBytes("UTF-8") :+ 0xc3.toByte), // valid + truncated tail
      ("válido 𝄞 тест " * 4).getBytes("UTF-8")            // valid multi-byte/non-BMP
    ) ++ fuzz
    cases.foreach { bs =>
      val got = graft.functions.CdcChunks.compute(UTF8String.fromBytes(bs))
        .toSeq[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString)
      assert(got == refChunks(bs),
        s"kernel diverged from the reference chunker on ${bs.take(12).toSeq}")
    }
  }

  test("kernel edge battery: degenerate inputs never crash, evaluate deterministically") {
    // empty strings, sub-window strings, whitespace-only, empty arrays,
    // and mismatched vector lengths — real corpora contain all of these
    // (the r9 ta_bpe_apply empty-doc dropout was exactly this class), so
    // every native kernel must return a deterministic value, not throw.
    val texts = Seq("", " ", "ab", "abcdefg", "\n\t", "a" * 7)
    texts.foreach { t =>
      val df = Seq(Tuple1(t)).toDF("t")
      val exprs = Seq(
        "char_shingles(t, 5)", "cdc_chunks(t)", "winnow_stats(t)",
        "simpson_stats(t)", "minhash_sig(char_shingles(t, 5))",
        "simhash64(filter(split(t, ' '), x -> x <> ''))",
        "md5_buckets(char_shingles(t, 3), 65536)")
      exprs.foreach { e =>
        val a = df.select(expr(e).cast("string")).head.getString(0)
        val b = df.select(expr(e).cast("string")).head.getString(0)
        assert(a == b, s"$e non-deterministic on ${t.take(8).toSeq}")
      }
      // empty/short text yields zero shingles of width > length; otherwise
      // the DISTINCT sliding-window count (char_shingles dedups)
      val n = df.select(size(expr("char_shingles(t, 5)"))).head.getInt(0)
      val want = if (t.codePointCount(0, t.length) < 5) 0
        else t.toSeq.sliding(5).map(_.unwrap).toSet.size
      assert(n == want, s"shingle count $n != $want on ${t.take(8).toSeq}")
    }
    // zip kernels on mismatched lengths: min-length semantics, no throw
    val vdf = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
    assert(vdf.select(expr("dot_product(a, b)")).head.getDouble(0) == 5.0)
    assert(vdf.select(expr("l2_sq(a, b)")).head.getDouble(0) == 0.0)
    val sdf = Seq((Seq(1L, 2L, 3L), Seq(1L, 9L))).toDF("a", "b")
    assert(sdf.select(expr("sig_agree(a, b)")).head.getInt(0) == 1)
    // empty arrays: signature of nothing is the fixed all-MaxValue vector,
    // simhash of no tokens is the all-ones fingerprint — both deterministic
    val edf = Seq(Tuple1(Seq.empty[String])).toDF("a")
    val sig = edf.select(expr("minhash_sig(a)")).head.getSeq[Long](0)
    assert(sig.length == 64 && sig.forall(_ == Long.MaxValue))
    assert(edf.select(expr("simhash64(a)")).head.getLong(0) == -1L)
    assert(edf.select(expr("jaccard_sim(a, a)")).head.getDouble(0) == 0.0)
  }

  test("top_bigram_stats equals the naive count on random token lists") {
    val toksGen = Gen.listOfN(60, Gen.oneOf("a", "b", "c", "ab", "xyz"))
    forAll(toksGen, 20) { toks =>
      val text = toks.mkString(" ")
      val row = Seq(Tuple1(text)).toDF("t")
        .select(expr("top_bigram_stats(t)").as("st"))
        .select("st.top_gram_n", "st.n_grams").head
      val grams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val wantN = grams.size.toLong
      val wantTop = if (grams.isEmpty) 0L
        else grams.groupBy(identity).values.map(_.size).max.toLong
      assert((row.getLong(0), row.getLong(1)) == ((wantTop, wantN)), s"text='$text'")
    }
  }

  test("KMV sketch is exact below its capacity (k=256)") {
    val valsGen = Gen.listOfN(300, Gen.choose(0L, 99L)) // ≤100 distinct, many dupes
    forAll(valsGen, 10) { vs =>
      if (vs.nonEmpty) {
        val row = vs.toDF("h").select(expr("kmv_sketch(h)").as("sk"))
          .select("sk.n_kept", "sk.kth").head
        assert(row.getLong(0) == vs.distinct.size.toLong, "below k the sketch IS the set")
        assert(row.isNullAt(1), "kth must be null below capacity")
      }
    }
  }

  test("custom top-k equals sort-take on random data") {
    val rows = Gen.listOfN(200, for {
      g <- Gen.choose(0, 4); v <- Gen.choose(-1000, 1000); id <- Gen.choose(0, 100000)
    } yield (g.toLong, v.toLong, id.toLong))
    forAll(rows, 8) { data =>
      if (data.nonEmpty) {
        val dedup = data.distinct
        val df = dedup.toDF("g", "v", "id")
        val got = plans.GraftOps.topKPerGroup(spark, df, Seq("g"),
          Seq(("v", true), ("id", true)), 3, "rk")
          .select("g", "v", "id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val want = dedup.groupBy(_._1).flatMap { case (_, rs) =>
          rs.sortBy(t => (t._2, t._3)).take(3)
        }.toSet
        assert(got == want)
      }
    }
  }

  test("pq_encode equals a reference argmin on random vectors") {
    val rnd = new scala.util.Random(11)
    val k = 6
    val cb = Array.fill(8 * k)(Array.fill(8)(rnd.nextDouble() * 2 - 1))
    forAll(Gen.listOfN(64, Gen.choose(-1000, 1000).map(_ / 250.0)), 10) { vec =>
      if (vec.length == 64) {
        val v = vec.toArray
        val got = Seq((v.toSeq, cb.map(_.toSeq).toSeq)).toDF("v", "cb")
          .select(expr("pq_encode(v, cb)").as("c"))
          .head.getAs[scala.collection.Seq[Int]]("c")
        val want = (0 until 8).map { m =>
          (0 until k).minBy { r =>
            val cw = cb(m * k + r)
            // same fold order as the expression
            (0 until 8).foldLeft(0.0)((s, i) =>
              s + (v(m * 8 + i) - cw(i)) * (v(m * 8 + i) - cw(i)))
          }
        }
        assert(got.toSeq == want, s"codes $got != $want")
      }
    }
  }

  test("space-saving sketch is partitioning-invariant below capacity") {
    val rows = (0 until 500).map(i => s"tok_${i % 37}")
    def top(parts: Int) = rows.toDF("tok").repartition(parts)
      .agg(expr("approx_topk(tok)").as("t"))
      .select(explode(col("t")).as("e")).select("e.token", "e.cnt", "e.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top(1) == top(8), "below capacity the sketch must be exact " +
      "regardless of partitioning/merge order")
  }

  test("bottom-k tuple sample: exact min-k WITH multiplicity, partitioning-invariant") {
    import spark.implicits._
    // 400 triples, each duplicated exactly once — the k=256 smallest must
    // survive WITH multiplicity (a set-based buffer would collapse the
    // duplicate-PK rows the generator emits), under any partitioning
    val rows = (0 until 400).map(i =>
      (i.toLong / 2, i.toLong / 2, (i.toLong / 2) % 7))
    val expect = rows.sorted.take(256)
    def got(parts: Int) = rows.toDF("hk", "id", "v").repartition(parts)
      .agg(expr("bottomk_sample(hk, id, v)").as("s"))
      .select(explode(col("s")).as("t")).select("t.hk", "t.id", "t.v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(1) == expect, "single-partition sample must be the exact min-k")
    assert(got(11) == expect,
      "sample must be a deterministic function of the data multiset")
  }

  test("space-saving sketch: heavy hitters survive over-capacity with bounded error") {
    // 4000 rows, zipf-ish: token_0 × 2000, token_1 × 1000, 1000 singletons;
    // capacity 16 << 1002 distinct
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("approx_topk_c16"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.functions", "approx_topk_c16"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        functions.TopKFreqAgg(es.head, capacity = 16, k = 5).toAggregateExpression())
    val rows = Seq.fill(2000)("token_0") ++ Seq.fill(1000)("token_1") ++
      (0 until 1000).map(i => s"rare_$i")
    val df = rows.toDF("tok").repartition(8)
    val top = df.agg(expr("approx_topk_c16(tok)").as("top"))
      .select(explode(col("top")).as("t"))
      .select("t.token", "t.cnt", "t.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val n = rows.size
    val byTok = top.map(t => t._1 -> t).toMap
    // any item with true count > n/capacity (= 250) must be retained
    assert(byTok.contains("token_0") && byTok.contains("token_1"))
    for ((tok, cnt, err) <- top) {
      val truth = tok match {
        case "token_0" => 2000L
        case "token_1" => 1000L
        case _ => 1L
      }
      assert(cnt >= truth, s"$tok: reported $cnt < true $truth")
      assert(cnt - err <= truth, s"$tok: lower bound ${cnt - err} > true $truth")
    }
  }

  test("Components.minLabel equals union-find on random graphs") {
    // pointer jumping + per-round checkpointing must converge to the exact
    // min-member label of every component, for ANY graph shape — chains,
    // stars, cliques, isolated pairs — not just shallow near-dup clusters
    val edgeGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong - 1), Gen.choose(0L, n.toLong - 1)))
    } yield edges.filter { case (a, b) => a != b }
    forAll(edgeGen, 10) { edges =>
      if (edges.nonEmpty) {
        // reference: driver-side union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(v => v -> find(v)).toMap
        val got = operators.Components
          .minLabel(spark, edges.toDF("ia", "ib"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected,
          s"components differ for edges $edges:\n got $got\n expected $expected")
      }
    }
  }

  test("sig_agree equals the interpreted zip_with fold it replaced") {
    val sigGen = Gen.listOfN(64, Gen.choose(Long.MinValue, Long.MaxValue))
    forAll(Gen.zip(sigGen, sigGen), 10) { case (a0, b) =>
      // plant positional agreements so the count is exercised, not just 0
      val a = a0.zipWithIndex.map { case (v, i) => if (i % 3 == 0) b(i) else v }
      val df = Seq((a, b)).toDF("a", "b")
      val native = df.select(expr("sig_agree(a, b)")).head.getInt(0)
      val hof = df.select(expr(
        """aggregate(zip_with(a, b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
          |0, (acc, v) -> acc + v)""".stripMargin)).head.getInt(0)
      assert(native == hof, s"sig_agree $native != HOF $hof")
      assert(native == a.zip(b).count { case (x, y) => x == y })
    }
  }

  test("l2_sq equals the interpreted zip_with fold it replaced") {
    val vecGen = Gen.listOfN(64, Gen.choose(-4.0, 4.0))
    forAll(Gen.zip(vecGen, vecGen), 10) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val native = df.select(expr("l2_sq(a, b)")).head.getDouble(0)
      val hof = df.select(expr(
        """aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
          |CAST(0 AS DOUBLE), (s, x) -> s + x)""".stripMargin)).head.getDouble(0)
      assert(native == hof, s"l2_sq $native != HOF $hof")
    }
  }

  test("adc_dist equals the explicit subspace fold on random vectors") {
    val vecGen = Gen.listOfN(64, Gen.choose(-4.0, 4.0))
    // flat subspace-major codebook with K=4 codewords per subspace (8·4
    // subvectors of 8 dims); codes index within each subspace
    val gen = Gen.zip(vecGen, Gen.listOfN(32, vecGen.map(_.take(8))),
      Gen.listOfN(8, Gen.choose(0, 3)))
    forAll(gen, 10) { case (qv, cb, codes) =>
      val native = Seq((qv, cb, codes)).toDF("qv", "cb", "codes")
        .select(expr("adc_dist(qv, cb, codes)")).head.getDouble(0)
      val k = cb.length / 8
      var acc = 0.0
      for (m <- 0 until 8) {
        val cw = cb(m * k + codes(m))
        var s = 0.0
        for (i <- 0 until 8) {
          val diff = qv(m * 8 + i) - cw(i)
          s += diff * diff
        }
        acc += s
      }
      assert(native == acc, s"adc_dist $native != reference $acc")
    }
  }
}
