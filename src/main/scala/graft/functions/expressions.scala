package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row hot loops of the dedup /
  * similarity operators (SURVEY §2.3). Higher-order-function lambdas are
  * interpreted per element; these evaluate one tight JVM loop per row
  * (~100× faster for 64-hash signatures) while remaining deterministic and
  * distributable. Every expression generates a static call via doGenCode,
  * so parent operators stay inside one whole-stage-codegen span
  * (CodegenFallback would split it).
  *
  * Hash family: md5 (not xxhash). md5 is reproducible in ANSI-ish SQL
  * (DuckDB `md5()`), which lets the driver's oracle recompute MinHash /
  * SimHash signatures EXACTLY — the probabilistic operators get bit-exact
  * correctness checks instead of statistical ones. The md5-per-shingle cost
  * is amortized by signature persistence (each doc is hashed once, then
  * only 64-long signatures move through the pipeline). */

/** MinHash signature of a shingle set: sig[j] = (h1(s) + j * h2(s)) mod 2^63
  * minimized over shingles — the standard 2-hash affine family. h1/h2 are
  * the two 8-byte halves of md5(shingle), masked to 63 bits so comparisons
  * are unsigned-consistent in engines without u64 (h2 forced odd). Input
  * array<string>, output array<long>(64). */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    HashOps.minhashSig(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.minhashSig($c);")

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(c)
}

/** SimHash-64 of a token list: per-token md5 (first 8 bytes, big-endian),
  * ±1 votes per bit, vote >= 0 sets the bit. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(HashOps.simhash64(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.simhash64($c);")

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

/** Strict left-fold dot product of two double arrays — same accumulation
  * order as DuckDB's list_reduce, so results are bit-identical across
  * engines (SURVEY §6). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(VectorMath.dot(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorMath.dot($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Sign-LSH signatures: one small-int signature per hash table, from
  * seeded deterministic Gaussian hyperplanes (data-independent, identical
  * on every executor). Input (array<double>(64), q) → array<int>
  * (numTables), where q is the number of hyperplanes (= signature bits)
  * used per table. q SCALES WITH THE CORPUS (Similarity.lshQ: smallest q
  * in [8, 16] with 2^q · 8 ≥ N): a fixed q makes expected bucket
  * population N/2^q grow linearly and the bucket self-join quadratically
  * — the same flaw class as a fixed quantizer K. The same seeded planes
  * are embedded as literals into the DuckDB oracle, which derives the
  * identical q from COUNT(*), so bucket assignment is cross-engine exact
  * at every scale. */
case class LshSigs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_sigs"

  override def nullSafeEval(input: Any, q: Any): Any =
    LshSigs.compute(input.asInstanceOf[ArrayData], q.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, q) =>
      s"${ev.value} = graft.functions.LshSigs.compute($c, $q);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LshSigs =
    copy(left = l, right = r)
}

object LshSigs {
  val numTables = 3
  /** Legacy per-table width: the first numTables·16 = 48 stream positions
    * keep their original (t·16 + p) layout FOREVER — emb_dim_reduce's JL
    * matrix is stream positions 0..15 and every existing oracle embeds
    * those literals, so extending capacity must never re-index them
    * (regression-pinned in GenScaleSpec). */
  val legacyPlanesPerTable = 16
  /** Corpus-scaled ceiling: q in [8, 31]. 31, not 32, because the
    * signature is a 32-bit int on both engines (bit p set via 1 << p;
    * p = 31 would hit the sign bit, where Spark and SQL engines disagree
    * on overflow). Capacity 2^31 · 8 ≈ 1.7e10 vectors — past the
    * quantizer family's own 16.7M ceiling by 10³. */
  val maxPlanesPerTable = 31
  val dims = 64
  /** Seeded once; identical on driver and executors. Seed-SEQUENTIAL:
    * positions 0..47 are the legacy block (bit-identical to the
    * pre-extension array — same Random(42) draw order); positions 48+
    * are the extension block appended after it. */
  lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(numTables * legacyPlanesPerTable +
      numTables * (maxPlanesPerTable - legacyPlanesPerTable))(
      Array.fill(dims)(rnd.nextGaussian()))
  }

  /** Stream position of the plane for (table t, bit p): legacy block
    * for p < 16 (frozen layout), extension block for p ≥ 16 — so raising
    * maxPlanesPerTable appends stream positions without re-indexing any
    * existing (t, p) assignment. */
  def planeIndex(t: Int, p: Int): Int =
    if (p < legacyPlanesPerTable) t * legacyPlanesPerTable + p
    else numTables * legacyPlanesPerTable +
      t * (maxPlanesPerTable - legacyPlanesPerTable) + (p - legacyPlanesPerTable)

  /** Shared by interpreted eval and generated code. */
  def compute(input: ArrayData, q: Int): ArrayData = {
    val v = input.toDoubleArray()
    val sigs = new Array[Int](numTables)
    var t = 0
    while (t < numTables) {
      var sig = 0
      var p = 0
      while (p < q) {
        val plane = planes(planeIndex(t, p))
        var dot = 0.0
        var i = 0
        val n = math.min(v.length, plane.length)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot >= 0) sig |= (1 << p)
        p += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }
}

/** Distinct character n-gram shingles in one pass (equivalent to
  * array_distinct(transform(sequence(...), i -> substring(text, i, n)))
  * but ~50× cheaper than the interpreted lambda chain). First-occurrence
  * order, matching array_distinct semantics. */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  override def nullSafeEval(input: Any): Any =
    HashOps.charShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.charShingles($c, $n);")

  override protected def withNewChildInternal(c: Expression): CharShingles = copy(child = c)
}

/** md5-prefix bucket per element of a string array (HashOps.md5Buckets);
  * the SQL-expressible equivalent both oracles use is
  * `conv(substring(md5(g), 1, 8), 16, 10) % mod`. */
case class Md5Buckets(child: Expression, mod: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_buckets"

  override def nullSafeEval(input: Any): Any =
    HashOps.md5Buckets(input.asInstanceOf[ArrayData], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.md5Buckets($c, $mod);")

  override protected def withNewChildInternal(c: Expression): Md5Buckets = copy(child = c)
}

/** Jaccard similarity of two distinct-element string arrays:
  * |A∩B| / |A∪B| via one hash set (same rational as the
  * array_intersect/array_union formulation, so oracle-exact). */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(VectorMath.jaccard(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorMath.jaccard($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
}

/** Char-bigram LM scoring in one pass (ta_ngram_lm's hot loop): walk the
  * text positions ascending, look each 2-char gram and its 1-char prefix
  * up in the SORTED model arrays by binary search, and fold the add-one-
  * smoothed probabilities in position order — the identical strict left
  * fold as the interpreted `aggregate` HOF it replaces, so the DuckDB
  * oracle match is unchanged. Why: `element_at` on a broadcast map column
  * is a LINEAR scan of ArrayBasedMapData — O(positions × |Σ|²) per corpus
  * (measured 26.8 s of the sf1 bench); binary search over the sorted key
  * array is O(positions × log|Σ|²). Model rides in ONE struct child:
  * struct(bkeys: array<string> sorted, bcnts: array<long> aligned,
  * pkeys/pcnts likewise for the 1-char prefixes, v: distinct-bigram
  * count). Output struct<n_bg, lm_score>. A missing key throws — the
  * model is trained on the same corpus, so absence is a bug, not data. */
case class BigramLmScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bg", LongType, nullable = false),
    StructField("lm_score", DoubleType, nullable = false)))
  override def prettyName: String = "bigram_lm_score"

  override def nullSafeEval(text: Any, model: Any): Any =
    BigramLmScore.compute(text.asInstanceOf[UTF8String],
      model.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, m) =>
      s"${ev.value} = graft.functions.BigramLmScore.compute($t, $m);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BigramLmScore =
    copy(left = l, right = r)
}

object BigramLmScore {
  private def search(keys: ArrayData, key: UTF8String): Int = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = keys.getUTF8String(mid).compareTo(key)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  def compute(text: UTF8String, model: InternalRow): InternalRow = {
    val bkeys = model.getArray(0)
    val bcnts = model.getArray(1)
    val pkeys = model.getArray(2)
    val pcnts = model.getArray(3)
    val v = model.getLong(4)
    val len = text.numChars()
    var acc = 0.0
    var i = 1
    while (i < len) {
      // identical extraction to SQL substring(text, i, 2) / substr(b, 1, 1)
      val bg = text.substringSQL(i, 2)
      val a = text.substringSQL(i, 1)
      val bi = search(bkeys, bg)
      val pi = search(pkeys, a)
      if (bi < 0 || pi < 0)
        throw new IllegalStateException(s"bigram_lm_score: unseen gram '$bg'")
      acc += (bcnts.getLong(bi) + 1L).toDouble / (pcnts.getLong(pi) + v)
      i += 1
    }
    InternalRow(len - 1L, if (len > 1) acc / (len - 1L) else 0.0)
  }
}

/** Repetition stats in one pass: (count of the most frequent word 2-gram,
  * total 2-gram count) per document — replaces an explode + two
  * aggregations (which at 100 TB would double the corpus through a shuffle)
  * with one per-row hash map. Input is the RAW text (space tokenization
  * happens inside the loop: a `filter(split(...))` HOF child would itself
  * break whole-stage codegen) → struct<top_gram_n, n_grams>. Exact
  * integers, so the DuckDB explode/aggregate oracle matches bit-for-bit. */
case class TopBigramStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("top_gram_n", LongType, nullable = false),
    StructField("n_grams", LongType, nullable = false)))
  override def prettyName: String = "top_bigram_stats"

  override def nullSafeEval(input: Any): Any =
    HashOps.topBigram(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.topBigram($c);")

  override protected def withNewChildInternal(c: Expression): TopBigramStats = copy(c)
}

/** Simpson-index diversity stats in one pass: per-char and per-token
  * squared-frequency sums plus the counts, from the RAW text (tokenization
  * inside the loop, same reasoning as TopBigramStats). Replaces two
  * array_distinct × aggregate HOF chains that were O(distinct · len) per
  * row in interpreted lambdas. Exact integers → struct<char_sumsq,
  * tok_sumsq, n_chars, n_toks>; the SQL oracle's replace()/list_filter()
  * formulation produces the identical values. */
case class SimpsonStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("char_sumsq", LongType, nullable = false),
    StructField("tok_sumsq", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_toks", LongType, nullable = false)))
  override def prettyName: String = "simpson_stats"

  override def nullSafeEval(input: Any): Any =
    HashOps.simpsonStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.simpsonStats($c);")

  override protected def withNewChildInternal(c: Expression): SimpsonStats = copy(c)
}

/** Winnowing fingerprint stats of a document in ONE native pass (MOSS,
  * Schleimer et al. 2003): per-position 8-gram md5-prefix hashes,
  * window-4 rightmost-minimum picks encoded h·100000+pos, distinct-pick
  * count + sum. Replaces the interpreted per-character HOF chain
  * (~n_chars md5+conv lambda evaluations per doc — the worst 100×-scale
  * ratio in BENCH_ALL before this). Semantics are identical to the SQL
  * formulation the oracle keeps using: hash = first 8 hex digits of
  * md5(substr(text, i, 8)) as BIGINT (== first 4 digest bytes,
  * big-endian, unsigned), 1-based positions, `<=` replaces on ties so
  * the RIGHTMOST minimum wins. Returns (n_windows, n_fp, fp_sum). */
case class WinnowStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_windows", LongType, nullable = false),
    StructField("n_fp", LongType, nullable = false),
    StructField("fp_sum", LongType, nullable = false)))
  override def prettyName: String = "winnow_stats"

  override def nullSafeEval(input: Any): Any =
    HashOps.winnowStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.winnowStats($c);")

  override protected def withNewChildInternal(c: Expression): WinnowStats = copy(c)
}

/** Product-quantization encoder: nearest codeword per 8-dim subspace of an
  * array<double>(64) against a flat codebook array<array<double>>(8·K)
  * laid out subspace-major (cb[m·K + r] = codeword r of subspace m).
  * Returns array<int>(8). One tight double loop per row replaces the
  * interpreted HOF argmin (measured 3.0 s → sub-second for the sf0.1
  * encode). Arithmetic is the identical left fold (i ascending, strict `<`
  * keeps the earliest codeword on ties), so the oracle match is unchanged. */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(v: Any, cb: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqEncode.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
    copy(left = l, right = r)
}

object PqEncode {
  val subspaces = 8
  def compute(v: ArrayData, cb: ArrayData): ArrayData = {
    val m = subspaces
    val k = cb.numElements() / m
    val dims = v.numElements() / m
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = Double.PositiveInfinity
      var bestR = -1
      var r = 0
      while (r < k) {
        val cw = cb.getArray(mi * k + r)
        var s = 0.0
        var i = 0
        while (i < dims) {
          val diff = v.getDouble(mi * dims + i) - cw.getDouble(i)
          s += diff * diff
          i += 1
        }
        if (s < best) { best = s; bestR = r }
        r += 1
      }
      codes(mi) = bestR
      mi += 1
    }
    new GenericArrayData(codes)
  }
}

/** Index of the candidate vector with the smallest squared-L2 distance to
  * `v` (ties → lowest index). Candidates arrive as one broadcast
  * array<array<double>>(K), so quantizer assignment (IVF cells, SemDeDup
  * clusters) is a pure map-side projection — no N×K crossJoin, no window
  * shuffle, and the cost is K·dims flops per row with K clamped (the
  * codebook is a bounded hash-sample, never corpus-sized). Arithmetic is the
  * strict left fold Σ(x−y)² the DuckDB oracles use, so assignment is
  * bit-exact across engines. */
case class ArgMinL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmin_l2"

  override def nullSafeEval(v: Any, cands: Any): Any =
    java.lang.Integer.valueOf(VectorMath.argminL2(
      v.asInstanceOf[ArrayData], cands.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorMath.argminL2($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgMinL2 =
    copy(left = l, right = r)
}

/** Asymmetric PQ distance: Σ_m Σ_i (qv[m·dims+i] − cb[m·K + codes[m]][i])²
  * between a full query vector and a PQ-coded candidate, against the same
  * flat subspace-major codebook PqEncode consumes. One tight double loop
  * per (query, candidate) replaces two nested interpreted HOF lambdas.
  * Fold order (subspace-major, then dim-major, both strict left folds)
  * matches the DuckDB oracle exactly. */
case class AdcDist(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_dist"

  override def nullSafeEval(qv: Any, cb: Any, codes: Any): Any =
    java.lang.Double.valueOf(VectorMath.adcDist(
      qv.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.VectorMath.adcDist($a, $b, $c);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): AdcDist =
    copy(first = f, second = s, third = t)
}

/** Bloom-gate probe: count of md5-hex spans whose 4 filter positions
  * (disjoint 8-hex-digit folds of the digest, mod 65536) are ALL present
  * in the sorted broadcast position array. Folds the whole probe side of
  * dd_bloom_gate — explode, 4-way posexplode, semi-join, two groupBys —
  * into one map pass per document: 4 binary searches per span against an
  * ≤8 KB broadcast, zero shuffles on the corpus. */
case class BloomFlagCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bloom_flag_count"

  override def nullSafeEval(spans: Any, positions: Any): Any =
    java.lang.Long.valueOf(HashOps.bloomFlagCount(
      spans.asInstanceOf[ArrayData], positions.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.bloomFlagCount($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomFlagCount =
    copy(left = l, right = r)
}

/** Exact contamination probe: count of DISTINCT codepoint n-grams of
  * `text` present in the SORTED broadcast gram array (binary-ordered
  * UTF8String binary search — sort_array's string order). Folds the whole
  * probe side of dd_decontaminate — explode, broadcast semi-join, groupBy
  * doc_id, left join back — into one map pass per document: the corpus
  * gram stream is never materialized as rows, nothing about the corpus
  * shuffles, and semantics stay EXACT string membership (no hashing, no
  * false-positive caveat — the Bloom variant dd_bloom_gate remains the
  * even-cheaper inexact gate). */
case class GramHits(first: Expression, n: Int, third: Expression)
    extends BinaryExpression {
  override def left: Expression = first
  override def right: Expression = third
  override def dataType: DataType = LongType
  override def prettyName: String = "gram_hits"

  override def nullSafeEval(text: Any, grams: Any): Any =
    java.lang.Long.valueOf(HashOps.gramHits(
      text.asInstanceOf[UTF8String], n, grams.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.gramHits($a, $n, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GramHits =
    copy(first = l, third = r)
}

/** Content-defined chunking: md5 hex of each chunk of a text, boundaries
  * where the 16-CODEPOINT rolling polynomial hash
  * fold((acc·257 + codepoint) mod 2^20) over the trailing window ≡ 0
  * (mod 64), end-of-text always a boundary. Codepoints are the unit on
  * BOTH engines: the DuckDB oracle folds ord(substr(text, k, 1)) over
  * range(16, length(text)+1) — DuckDB ord/substr/length are all
  * codepoint-indexed — and chunk identity is md5 of the UTF-8 bytes of
  * the codepoint substring, which both engines compute identically
  * (PropertySpec pins the non-BMP case; the pre-r10 kernel folded raw
  * UTF-8 bytes and only coincided with the oracle on ASCII text).
  * One O(16·n) pass per row — the interpreted HOF formulation was
  * O(16·n²) (positional substring seeks) and went quadratic on long
  * docs. Arithmetic identical to the oracle's per-position fold. */
case class CdcChunks(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CdcChunks.compute($c);")

  override protected def withNewChildInternal(c: Expression): CdcChunks = copy(c)
}

object CdcChunks {
  private val W = 16
  private val M = 1048576L
  private val Mask = 64L

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    // one UTF-8 decode pass: codepoint values (the fold's unit) plus the
    // byte offset where each codepoint starts (so chunk md5 can hash the
    // original bytes without re-encoding substrings)
    val cps = new Array[Int](nb)
    val offs = new Array[Int](nb + 1)
    var ncp = 0
    var bi = 0
    while (bi < nb) {
      offs(ncp) = bi
      val b0 = bytes(bi) & 0xff
      var cp = 0
      var len = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
      else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
      else if ((b0 & 0xf8) == 0xf0) { cp = b0 & 0x07; len = 4 }
      else { cp = b0 } // stray continuation / invalid lead: one unit
      // UTF8String is NOT validated (binary→string casts pass bytes
      // through), so the sequence the lead byte promises may be truncated
      // at the buffer end or interrupted by a non-continuation byte.
      // Defensive contract: bounded reads only, one unit per invalid
      // byte (cp = the raw byte), offsets still partition the buffer —
      // never read past nb, never skip a byte. Valid UTF-8 decodes
      // exactly as before, so oracle parity on real corpora is untouched.
      if (len > 1) {
        var ok = bi + len <= nb
        var k = 1
        while (ok && k < len) {
          if ((bytes(bi + k) & 0xc0) != 0x80) ok = false
          k += 1
        }
        if (ok) {
          k = 1
          while (k < len) { cp = (cp << 6) | (bytes(bi + k) & 0x3f); k += 1 }
        } else { cp = b0; len = 1 }
      }
      cps(ncp) = cp
      ncp += 1
      bi += len
    }
    offs(ncp) = nb
    // boundary positions in CODEPOINT units, exactly the oracle's
    // range(16, length(text)+1) per-position fold
    val bounds = scala.collection.mutable.ArrayBuffer[Int]()
    var i = W
    while (i <= ncp) {
      // same fold as the oracle: left-to-right over the trailing 16 codepoints
      var acc = 0L
      var k = i - W
      while (k < i) { acc = (acc * 257 + cps(k)) % M; k += 1 }
      if (acc % Mask == 0) bounds += i
      i += 1
    }
    if (bounds.isEmpty || bounds.last != ncp) bounds += ncp
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](bounds.length)
    var j = 0
    var lo = 0
    while (j < bounds.length) {
      val hi = bounds(j)
      md.reset()
      md.update(bytes, offs(lo), offs(hi) - offs(lo))
      val hex = md.digest().map(b => f"$b%02x").mkString
      out(j) = UTF8String.fromString(hex)
      lo = hi
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Count of agreeing positions between two MinHash signatures
  * (array<long>(64)) — the LSH prefilter's hot inner loop. Replaces the
  * interpreted `aggregate(zip_with(...))` HOF pair evaluated once per
  * CANDIDATE PAIR (millions of pairs at scale; the HOF interpreter was
  * the prefilter stage's dominant cost). Integer arithmetic, so the
  * est = sig_agree/64.0 threshold is bit-identical to the oracles'
  * list-fold formulation. */
case class SigAgree(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agree"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(VectorMath.sigAgree(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorMath.sigAgree($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgree =
    copy(left = l, right = r)
}

/** Squared L2 distance between two double arrays — the coarse-probe
  * query→centroid distance (bounded Q×K rows). Same strict dim-major
  * fold as the interpreted HOF formulation, so it is bit-identical to
  * the oracles' list-fold SQL. */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(VectorMath.l2Sq(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorMath.l2Sq($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
}

/** Recursive JSON tree walk (SQLite JSON1 `json_tree` parity — the
  * reference ships JSON columns through mapping.go:66-84 precisely so
  * JSON1 can walk them): one row per node, document order, as
  * array<struct<path, key, type, value>> to explode. Path uses the
  * standard `$.a[0].b` syntax; `key` is NULL at the root, the member name
  * in objects, the index in arrays; `type` uses DuckDB's json_type names
  * (OBJECT/ARRAY/UBIGINT/BIGINT/DOUBLE/VARCHAR/BOOLEAN) so the oracle's
  * recursive-CTE walk matches verbatim; `value` is the node's compact
  * JSON text for scalars, NULL for containers. */
case class JsonTreeWalk(child: Expression) extends UnaryExpression {
  override def dataType: DataType = JsonWalk.outType
  override def prettyName: String = "json_tree_walk"

  override def nullSafeEval(input: Any): Any =
    JsonWalk.walk(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JsonWalk.walk($c);")

  override protected def withNewChildInternal(c: Expression): JsonTreeWalk = copy(c)
}

object JsonWalk {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("type", StringType, nullable = false),
    StructField("value", StringType, nullable = true))), containsNull = false)

  private val mapper = new ThreadLocal[ObjectMapper] {
    override def initialValue(): ObjectMapper = new ObjectMapper()
  }

  def walk(js: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer[InternalRow]()
    def rec(node: JsonNode, path: String, key: String): Unit = {
      val tpe =
        if (node.isObject) "OBJECT"
        else if (node.isArray) "ARRAY"
        else if (node.isTextual) "VARCHAR"
        else if (node.isBoolean) "BOOLEAN"
        // signum via BigInteger: integral values beyond Long range would
        // misclassify through asLong()'s overflow clamp
        else if (node.isIntegralNumber) { if (node.bigIntegerValue().signum() >= 0) "UBIGINT" else "BIGINT" }
        else if (node.isNumber) "DOUBLE"
        else "NULL"
      val value =
        if (node.isObject || node.isArray || node.isNull) null
        else UTF8String.fromString(node.toString) // compact JSON text
      out += InternalRow(UTF8String.fromString(path),
        if (key == null) null else UTF8String.fromString(key),
        UTF8String.fromString(tpe), value)
      if (node.isObject) {
        val it = node.fields() // Jackson preserves document key order
        while (it.hasNext) {
          val e = it.next()
          rec(e.getValue, path + pathStep(e.getKey), e.getKey)
        }
      } else if (node.isArray) {
        var i = 0
        while (i < node.size()) {
          rec(node.get(i), path + "[" + i + "]", i.toString)
          i += 1
        }
      }
    }
    rec(mapper.get().readTree(js.toString), "$", null)
    new GenericArrayData(out.toArray[Any])
  }

  /** Object-member path step, quoted like SQLite json_tree's fullkey when
    * the key isn't a plain identifier ($."a.b" instead of the ambiguous
    * $.a.b). */
  private def pathStep(key: String): String =
    if (key.nonEmpty && key.forall(c => (c.isLetterOrDigit && c < 128) || c == '_'))
      "." + key
    else ".\"" + key.replace("\"", "\\\"") + "\""
}

/** Static helpers shared by interpreted eval and generated code. */
object VectorMath {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }
  /** Equal-position count of two long arrays (zip semantics: min length). */
  def sigAgree(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree
  }

  /** Σ(x−y)² over min-length zip, strict dim-major left fold — the same
    * addition order as the aggregate(zip_with(...)) HOF it replaces, so
    * results are bit-identical and the oracles are untouched. */
  def l2Sq(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val diff = x(i) - y(i)
      s += diff * diff
      i += 1
    }
    s
  }

  /** Index of the min-Σ(x−y)² candidate; strict `<` keeps the earliest on
    * ties, matching the oracles' ORDER BY dist, rank. */
  def argminL2(v: ArrayData, cands: ArrayData): Int = {
    val x = v.toDoubleArray()
    val k = cands.numElements()
    var best = Double.PositiveInfinity
    var bestR = -1
    var r = 0
    while (r < k) {
      val cw = cands.getArray(r)
      var s = 0.0
      var i = 0
      val n = math.min(x.length, cw.numElements())
      while (i < n) {
        val diff = x(i) - cw.getDouble(i)
        s += diff * diff
        i += 1
      }
      if (s < best) { best = s; bestR = r }
      r += 1
    }
    bestR
  }

  /** Asymmetric PQ distance against a flat subspace-major codebook
    * (cb[m·K + r] = codeword r of subspace m); fold order matches the
    * oracle: per-subspace inner fold, then subspace-major outer fold. */
  def adcDist(qv: ArrayData, cb: ArrayData, codes: ArrayData): Double = {
    val m = PqEncode.subspaces
    val k = cb.numElements() / m
    val dims = qv.numElements() / m
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val cw = cb.getArray(mi * k + codes.getInt(mi))
      var s = 0.0
      var i = 0
      while (i < dims) {
        val diff = qv.getDouble(mi * dims + i) - cw.getDouble(i)
        s += diff * diff
        i += 1
      }
      acc += s
      mi += 1
    }
    acc
  }

  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val set = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < b.numElements()) { if (set.contains(b.getUTF8String(i))) inter += 1; i += 1 }
    val union = a.numElements() + b.numElements() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** md5-based hashing kernels. All 64-bit values derive from the two
  * big-endian 8-byte halves of md5(bytes), which DuckDB reproduces from
  * `md5()` hex output — see the digit-fold macros in Similarity.scala. */
object HashOps {
  /** 63-bit mask: keeps affine-hash arithmetic in non-negative signed-long
    * territory, where Java `<` and SQL `<` agree. */
  final val Mask63: Long = Long.MaxValue
  final val NumHashes = 64

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def beLong(d: Array[Byte], off: Int): Long = {
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(off + i) & 0xffL); i += 1 }
    h
  }

  def minhashSig(arr: ArrayData): ArrayData = {
    val dig = md5.get()
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      dig.reset()
      val d = dig.digest(s.getBytes)
      val h1 = beLong(d, 0) & Mask63
      val h2 = (beLong(d, 8) & Mask63) | 1L
      var cur = h1
      var j = 0
      while (j < NumHashes) {
        if (cur < sig(j)) sig(j) = cur
        cur = (cur + h2) & Mask63 // (h1 + j*h2) mod 2^63, built incrementally
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def simhash64(arr: ArrayData): Long = {
    val dig = md5.get()
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      dig.reset()
      val h = beLong(dig.digest(s.getBytes), 0)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var fp = 0L
    var k = 0
    while (k < 64) { if (votes(k) >= 0) fp |= (1L << k); k += 1 }
    fp
  }

  /** Per-element md5-prefix bucket: the value of the first 8 hex digits of
    * md5(s) (== first 4 bytes, big-endian, unsigned) mod `mod` — exactly
    * what `conv(substring(md5(g), 1, 8), 16, 10) % mod` computes (the
    * ta_split bucket recipe), as one native pass instead of an interpreted
    * per-element HOF chain (measured 26.6 s → scan-speed on the ta_dsir
    * sf0.1 gram stream). */
  def md5Buckets(arr: ArrayData, mod: Int): ArrayData = {
    val dig = md5.get()
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      dig.reset()
      val d = dig.digest(arr.getUTF8String(i).getBytes)
      var h = 0L
      var j = 0
      while (j < 4) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = h % mod
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass winnowing stats (see WinnowStats): 8-gram md5-prefix hash
    * stream, window-4 rightmost-min picks, distinct count + sum. Mirrors
    * the SQL oracle exactly: 1-based positions, pick = h(pos)*100000+pos,
    * `<=` comparison keeps the rightmost minimum. Grams are indexed by
    * CODEPOINT (one offsets pass, identical cost on ASCII), not UTF-16
    * code unit — DuckDB's substr counts codepoints, so supplementary
    * (non-BMP) characters would otherwise shift every gram boundary and
    * diverge the hashes. */
  def winnowStats(str: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = str.toString
    // off(i) = UTF-16 index where the i-th codepoint starts; off(ncp) = end
    val ncp = s.codePointCount(0, s.length)
    val off = new Array[Int](ncp + 1)
    var ci = 0
    var si = 0
    while (ci < ncp) { off(ci) = si; si = s.offsetByCodePoints(si, 1); ci += 1 }
    off(ncp) = s.length
    val hlen = ncp - 7
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    if (hlen < 4) {
      row.setLong(0, math.max(hlen - 3, 0).toLong)
      row.setLong(1, 0L); row.setLong(2, 0L)
      return row
    }
    val dig = md5.get()
    val h = new Array[Long](hlen)
    var i = 0
    while (i < hlen) {
      dig.reset()
      val d = dig.digest(s.substring(off(i), off(i + 8))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      h(i) = v
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    var fpSum = 0L
    var wi = 1 // 1-based window start, windows wi..wi+3
    while (wi <= hlen - 3) {
      var acc = h(wi - 1) * 100000L + wi
      var j = wi + 1
      while (j <= wi + 3) {
        if (h(j - 1) <= acc / 100000L) acc = h(j - 1) * 100000L + j
        j += 1
      }
      if (seen.add(acc)) fpSum += acc
      wi += 1
    }
    row.setLong(0, (hlen - 3).toLong)
    row.setLong(1, seen.size.toLong)
    row.setLong(2, fpSum)
    row
  }

  def charShingles(str: UTF8String, n: Int): ArrayData = {
    val s = str.toString
    // shingle boundaries by CODEPOINT (identical cost on ASCII): SQL
    // substr/substring count codepoints on both engines, so UTF-16 unit
    // indexing would split surrogates and shift every gram on non-BMP
    // text — the same divergence class fixed in winnowStats (r9)
    val ncp = s.codePointCount(0, s.length)
    val off = new Array[Int](ncp + 1)
    var ci = 0
    var si = 0
    while (ci < ncp) { off(ci) = si; si = s.offsetByCodePoints(si, 1); ci += 1 }
    off(ncp) = s.length
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val last = ncp - n
    while (i <= last) { seen.add(s.substring(off(i), off(i + n))); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Count of spans (32-char md5 hex strings) whose 4 Bloom positions all
    * occur in the SORTED `positions` array. Positions are the same folds
    * the oracle computes: conv(substring(sg, off, 8), 16, 10) % 65536 for
    * off ∈ {1, 9, 17, 25} (1-based SQL offsets). */
  def bloomFlagCount(spans: ArrayData, positions: ArrayData): Long = {
    val np = positions.numElements()
    def present(p: Long): Boolean = {
      var lo = 0
      var hi = np - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = positions.getLong(mid)
        if (v == p) return true
        if (v < p) lo = mid + 1 else hi = mid - 1
      }
      false
    }
    var flagged = 0L
    var i = 0
    val n = spans.numElements()
    while (i < n) {
      val hex = spans.getUTF8String(i).toString
      var all = true
      var off = 0
      while (all && off < 32) {
        val p = java.lang.Long.parseLong(hex.substring(off, off + 8), 16) % 65536L
        if (!present(p)) all = false
        off += 8
      }
      if (all) flagged += 1L
      i += 1
    }
    flagged
  }

  /** Count of distinct codepoint n-grams of `str` present in the SORTED
    * (binary string order) gram array — exact membership via binary
    * search, no hashing. See GramHits. */
  def gramHits(str: UTF8String, n: Int, grams: ArrayData): Long = {
    val s = str.toString
    val ncp = s.codePointCount(0, s.length)
    if (ncp < n) return 0L
    val off = new Array[Int](ncp + 1)
    var ci = 0
    var si = 0
    while (ci < ncp) { off(ci) = si; si = s.offsetByCodePoints(si, 1); ci += 1 }
    off(ncp) = s.length
    val ng = grams.numElements()
    def present(u: UTF8String): Boolean = {
      var lo = 0
      var hi = ng - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = grams.getUTF8String(mid).compareTo(u)
        if (c == 0) return true
        if (c < 0) lo = mid + 1 else hi = mid - 1
      }
      false
    }
    val seen = new java.util.HashSet[String]()
    var hits = 0L
    var i = 0
    val last = ncp - n
    while (i <= last) {
      val g = s.substring(off(i), off(i + n))
      if (seen.add(g) && present(UTF8String.fromString(g))) hits += 1L
      i += 1
    }
    hits
  }

  /** One-pass char + token frequency squared sums (SimpsonStats). Token
    * split matches filter(split(text, ' '), t -> t <> ''); char counting
    * matches length()/replace() arithmetic on the corpus's ASCII text. */
  def simpsonStats(text: UTF8String): InternalRow = {
    val s = text.toString
    // characters = CODEPOINTS (the SQL split-on-'' / length() unit on
    // both engines): charAt-per-UTF-16-unit would count a supplementary
    // character as two surrogate "chars" and inflate n_chars/char_sumsq
    val charCounts = new java.util.HashMap[Integer, Int]()
    val tokCounts = new java.util.HashMap[String, Int]()
    var nToks = 0L
    var nChars = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      charCounts.merge(cp, 1, (a, b) => a + b)
      nChars += 1
      i += Character.charCount(cp)
    }
    i = 0
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      if (i < len) {
        val st = i
        while (i < len && s.charAt(i) != ' ') i += 1
        tokCounts.merge(s.substring(st, i), 1, (a, b) => a + b)
        nToks += 1
      }
    }
    var charSq = 0L
    val ci = charCounts.values().iterator()
    while (ci.hasNext) { val c = ci.next().toLong; charSq += c * c }
    var tokSq = 0L
    val ti = tokCounts.values().iterator()
    while (ti.hasNext) { val c = ti.next().toLong; tokSq += c * c }
    InternalRow(charSq, tokSq, nChars, nToks)
  }

  /** Space-tokenizes like filter(split(text, ' '), t -> t <> '') — empty
    * runs of spaces are skipped — and counts word bigrams in one pass. */
  def topBigram(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[String, Int]()
    var prev: String = null
    var nGrams = 0L
    var top = 0
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      if (i < len) {
        val st = i
        while (i < len && s.charAt(i) != ' ') i += 1
        val tok = s.substring(st, i)
        if (prev != null) {
          val c = counts.merge(prev + " " + tok, 1, (a, b) => a + b)
          if (c > top) top = c
          nGrams += 1
        }
        prev = tok
      }
    }
    InternalRow(top.toLong, nGrams)
  }
}

/** Session registration so query plans can reference these via expr("..."). */
object F {
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", (es: Seq[Expression]) => MinHashSig(es.head)),
    ("simhash64", (es: Seq[Expression]) => SimHash64(es.head)),
    ("dot_product", (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("lsh_sigs", (es: Seq[Expression]) => LshSigs(es.head, es(1))),
    ("char_shingles", (es: Seq[Expression]) => CharShingles(es(0),
      es(1).eval().asInstanceOf[Int])),
    ("jaccard_sim", (es: Seq[Expression]) => JaccardSim(es(0), es(1))),
    ("md5_buckets", (es: Seq[Expression]) => Md5Buckets(es(0),
      es(1).eval().asInstanceOf[Int])),
    ("sig_agree", (es: Seq[Expression]) => SigAgree(es(0), es(1))),
    ("l2_sq", (es: Seq[Expression]) => L2Sq(es(0), es(1))),
    ("pq_encode", (es: Seq[Expression]) => PqEncode(es(0), es(1))),
    ("argmin_l2", (es: Seq[Expression]) => ArgMinL2(es(0), es(1))),
    ("adc_dist", (es: Seq[Expression]) => AdcDist(es(0), es(1), es(2))),
    ("bloom_flag_count", (es: Seq[Expression]) => BloomFlagCount(es(0), es(1))),
    ("gram_hits", (es: Seq[Expression]) => GramHits(es(0),
      es(1).eval().asInstanceOf[Int], es(2))),
    ("cdc_chunks", (es: Seq[Expression]) => CdcChunks(es.head)),
    ("json_tree_walk", (es: Seq[Expression]) => JsonTreeWalk(es.head)),
    ("top_bigram_stats", (es: Seq[Expression]) => TopBigramStats(es.head)),
    ("bigram_lm_score", (es: Seq[Expression]) => BigramLmScore(es(0), es(1))),
    ("simpson_stats", (es: Seq[Expression]) => SimpsonStats(es.head)),
    ("winnow_stats", (es: Seq[Expression]) => WinnowStats(es.head)),
    ("ip_to_long", (es: Seq[Expression]) => IpToLong(es.head)),
    ("cidr_contains", (es: Seq[Expression]) => CidrContains(es(0), es(1))),
    ("minhash_union", (es: Seq[Expression]) =>
      MinHashUnionAgg(es.head).toAggregateExpression()),
    ("kmv_sketch", (es: Seq[Expression]) =>
      KmvSketchAgg(es.head).toAggregateExpression()),
    ("approx_topk", (es: Seq[Expression]) =>
      TopKFreqAgg(es.head).toAggregateExpression()),
    ("bottomk_sample", (es: Seq[Expression]) =>
      BottomKTupleAgg(es(0), es(1), es(2)).toAggregateExpression()))

  /** Idempotent: a name already bound to its builder (a re-wired session,
    * or one cloned from a wired session) is left alone, so re-wiring does
    * not log Spark's "replaced a previously registered function". */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.lookupFunctionBuilder(id).contains(builder))
        registry.registerFunction(id, new ExpressionInfo("graft.functions", name), builder)
    }
  }
}
