package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: tiles the driver's testdata `replicas`× into a new
  * sf directory, preserving each table's schema, key relationships and
  * per-replica statistics so bench timings measure SCALING, not a new
  * workload. Key columns shift by replica × domain-size (joins stay
  * consistent); dedup-sensitive payloads are made replica-distinct —
  * document tokens get a replica suffix and embeddings a replica rotation
  * — so near-dup/ANN structure grows linearly with the corpus instead of
  * quadratically (tiling identical text would hand every doc 9 exact
  * twins and blow candidate generation up 100×, which is a different
  * workload, not a bigger one). Labels/blocking keys get replica-distinct
  * ids for the same reason: a 10× corpus has more categories, not 10×
  * hotter blocks.
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> [replicas=10] [tables]
  * `tables` = comma-separated subset (e.g. "embeddings") for
  * vector-heavy corpora: the fixed-capacity ceilings of the ANN stack
  * (lshQ > 16 needs > 524k vectors) are crossed by tiling ONLY the
  * embeddings table to hundreds of replicas without paying for 100×
  * documents/lineitem regeneration. */
object GenScale {

  private[graft] val lower = "abcdefghijklmnopqrstuvwxyz"
  private[graft] val digits = "0123456789"

  /** Per-replica bijective alphabet map: identity at r=0, a seeded
    * Fisher-Yates shuffle (java.util.Random — LCG, specified behavior)
    * otherwise. Deterministic so replicas are reproducible and specs can
    * invert the map. */
  private[graft] def permuted(alpha: String, r: Int): String =
    if (r == 0) alpha
    else {
      val arr = alpha.toCharArray
      val rnd = new java.util.Random(0x9E3779B97F4A7C15L * (r + 1))
      var i = arr.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    run(spark, args(0), args(1), args.lift(2).map(_.toInt).getOrElse(10),
      args.lift(3).map(_.split(',').toSet).getOrElse(Set.empty))
    GraftSession.stop(spark)
  }

  /** Per-replica elementwise sign pattern for embeddings: identity while
    * the 64-rotation family lasts (r < 64 — keeps sf1/sf10-era corpora
    * byte-identical), seeded ±1 per dimension beyond it. Rotation alone
    * is EXHAUSTED at 64 replicas (replica 64 reproduced replica 0's
    * vectors exactly — identical-vector twins across replicas turn the
    * ANN/near-dup structure quadratic, the very artifact GenScale
    * exists to avoid); rotation ∘ sign-flip is norm-preserving, keeps
    * within-replica cosines exact, and decorrelates any two replicas
    * (E[cos] = 0 between different sign draws). */
  private[graft] def signs(r: Int): Array[Int] =
    if (r < 64) Array.fill(64)(1)
    else {
      val rnd = new java.util.Random(0xC2B2AE3D27D4EB4FL * (r + 1))
      Array.fill(64)(if (rnd.nextBoolean()) 1 else -1)
    }

  def run(spark: SparkSession, src: String, out: String, reps: Int,
      only: Set[String] = Set.empty): Unit = {
    def sel(name: String): Boolean = only.isEmpty || only.contains(name)
    // Single-FILE outputs (like the driver's testdata layout): the
    // streaming entries stage `events.parquet` with a raw file copy, and
    // DuckDB oracles glob plain paths — a directory-of-parts layout breaks
    // both. repartition(1), not coalesce(1): coalesce would collapse the
    // whole tiling computation to one task.
    // df is by-name: deselected tables (subset mode) must not even
    // resolve their source parquet — a partial src dir lacks them
    def write(name: String, df: => DataFrame): Unit = if (sel(name)) {
      import java.nio.file._
      val tmp = Files.createTempDirectory(s"genscale_$name")
      df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      // Files.list streams hold a directory fd until closed
      val listing = Files.list(tmp)
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet")).findFirst()
        finally listing.close()
      require(part.isPresent,
        s"GenScale: Spark wrote no part file for $name under $tmp")
      Files.createDirectories(Paths.get(out))
      Files.move(part.get(), Paths.get(s"$out/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // drop the staging leftovers (_SUCCESS, .crc) and the dir itself
      val leftovers = Files.list(tmp)
      try leftovers.forEach { p => Files.deleteIfExists(p); () }
      finally leftovers.close()
      Files.deleteIfExists(tmp)
      ()
    }

    def tiled(name: String)(f: (DataFrame, Int) => DataFrame): Unit = if (sel(name)) {
      val base = Tables.t(spark, src, name)
      write(name, (0 until reps).map(r => f(base, r)).reduce(_ unionAll _))
    }

    // Replica-offset guards: each key column's replica shift assumes the
    // source domain fits under the offset. A larger source corpus would
    // silently produce colliding ids across replicas — corrupting join and
    // dedup structure and invalidating every scaling conclusion — so fail
    // loudly instead (one cheap max() agg per key column).
    def guard(table: String, keysToOffsets: (String, Long)*): Unit = if (sel(table)) {
      val df = Tables.t(spark, src, table)
      keysToOffsets.foreach { case (key, off) =>
        val mx = df.agg(max(col(key))).head().get(0) match {
          case null => 0L
          case n: Number => n.longValue()
        }
        require(mx < off,
          s"GenScale: $table.$key max $mx >= replica offset $off — replicas would collide")
      }
    }
    guard("customer", "c_custkey" -> 15000L)
    guard("supplier", "s_suppkey" -> 1000L)
    guard("part", "p_partkey" -> 20000L)
    guard("orders", "o_orderkey" -> 150000L, "o_custkey" -> 15000L)
    guard("lineitem", "l_orderkey" -> 150000L, "l_partkey" -> 20000L, "l_suppkey" -> 1000L)
    guard("events", "event_id" -> 100000L, "user_id" -> 1500L)
    guard("documents", "doc_id" -> 5000L)
    guard("embeddings", "vec_id" -> 2000L, "label" -> 10L)

    // dimension tables shared by every replica
    write("region", Tables.t(spark, src, "region"))
    write("nation", Tables.t(spark, src, "nation"))

    tiled("customer")((df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * 15000L)))
    tiled("supplier")((df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * 1000L)))
    tiled("part")((df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * 20000L)))
    tiled("orders")((df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * 150000L))
      .withColumn("o_custkey", col("o_custkey") + lit(r * 15000L)))
    tiled("lineitem")((df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * 150000L))
      .withColumn("l_partkey", col("l_partkey") + lit(r * 20000L))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * 1000L)))
    // events: new ids/users per replica, sessions time-shifted apart.
    // Tiled from the RAW parquet, not Tables.t's converted view: the
    // streaming entries' source schema check depends on the generated
    // layout matching the driver's, so the tiling preserves whatever ts
    // layout the source has (the driver has shipped both nanos-BIGINT and
    // TIMESTAMP_NTZ) and the per-replica 30-day shift dispatches on it.
    if (sel("events")) {
      val rawEvents = spark.read.parquet(s"$src/events.parquet")
      val shifted: Int => org.apache.spark.sql.Column =
        rawEvents.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            r => col("ts") + lit(r * 30L * 86400L * 1000000000L) // nanos
          case _ =>
            // timestamp (NTZ or LTZ): interval arithmetic keeps the type
            r => col("ts") + expr(s"INTERVAL '${r * 30}' DAY")
        }
      write("events", (0 until reps).map(r => rawEvents
        .withColumn("event_id", col("event_id") + lit(r * 100000L))
        .withColumn("user_id", col("user_id") + lit(r * 1500L))
        .withColumn("ts", shifted(r)))
        .reduce(_ unionAll _))
    }
    // documents: per-replica seeded PERMUTATION of the letter/digit
    // alphabets. A bijective char map preserves EVERYTHING within a
    // replica — token counts and lengths, per-source vocab sizes,
    // exact/near-dup structure, shingle-set Jaccard — while making
    // cross-replica char-n-gram sets disjoint, so dedup candidate
    // generation grows linearly with the corpus. (A token SUFFIX does not
    // achieve this: 3-gram shingles of 'word~3' vs 'word~7' still overlap
    // heavily, and the banding cross-collides every replica sibling —
    // measured 34× at 10× data. A Caesar alphabet ROTATION is not enough
    // either: it shifts most byte values by the same delta, so the
    // block-mean phash survived almost unchanged and mm_phash_cluster
    // went quadratic at 100×. A seeded shuffle gives each char an
    // independent value.)
    //
    // The char map is composed with a per-replica CYCLIC TEXT ROTATION by
    // r % length chars: space and digit positions survive any letter
    // permutation with identical (position, nibble) phash votes, which at
    // 100 replicas left 2.4% of sibling pairs within the verify threshold
    // and percolated a 117k-member giant component (measured at sf10); a
    // 1+-char shift rehashes EVERY position-salted vote, pushing siblings
    // to background hamming (3.3k of 24.7M sibling pairs). Rotation
    // preserves length, char histogram and token multiset (one token pair
    // splits at the seam), and exact-dup groups rotate identically, so
    // within-replica structure still scales linearly.
    tiled("documents")((df, r) =>
      (if (r == 0) df
       else df
         .withColumn("text", expr(
           s"translate(text, '$lower$digits', '${permuted(lower, r)}${permuted(digits, r)}')"))
         // empty docs pass through unchanged: r % length('') is NULL
         // (modulo-by-zero, ANSI off), which would null the text and
         // n_chars for every replica ≥ 1 and break shingle/phash ops
         .withColumn("text", expr(
           s"CASE WHEN length(text) > 0 THEN " +
             s"concat(substring(text, $r % length(text) + 1), " +
             s"substring(text, 1, $r % length(text))) ELSE text END")))
        .withColumn("doc_id", col("doc_id") + lit(r * 5000L))
        .withColumn("n_chars", length(col("text"))))
    // embeddings: replica rotation decorrelates vectors across replicas
    // (cosine between a random vector and its rotation ≈ 0), fresh
    // labels. Past 64 replicas the rotation family is exhausted, so a
    // seeded per-replica ±1 sign pattern is composed on top (see signs):
    // exact on floats (sign flip never rounds), norm- and
    // within-replica-cosine-preserving, cross-replica decorrelating.
    tiled("embeddings")((df, r) =>
      (if (r == 0) df
       else {
         val sg = signs(r)
         val rot = s"element_at(embedding, ((j + $r) % 64) + 1)"
         val body =
           if (sg.forall(_ == 1)) rot
           else s"CAST($rot * element_at(array(${sg.mkString(",")}), j + 1) AS FLOAT)"
         df.withColumn("embedding", expr(s"transform(sequence(0, 63), j -> $body)"))
       })
        .withColumn("vec_id", col("vec_id") + lit(r * 2000L))
        .withColumn("label", col("label") + lit(r * 10)))
  }
}
