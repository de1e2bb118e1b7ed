package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by iterative min-label propagation with
  * path-halving — shared by dd_cluster and mm_phash_cluster (the doc and
  * media near-dup cluster steps).
  *
  * Each round does two things in one groupBy(min):
  *   (a) adopt the min label among graph neighbors (edges ⋈ labels);
  *   (b) pointer-jump: adopt the label of one's current LABEL
  *       (labels ⋈ labels) — path compression, so label chains shorten
  *       geometrically and rounds grow with log(diameter) instead of
  *       diameter (the classic pointer-jumping/shortcutting trick from
  *       the PRAM connectivity literature).
  * Near-dup clusters are shallow (diameter 2-4), so this converges in
  * 2-3 rounds at any corpus size; each round is two bounded shuffles of
  * bare (id, label) pairs — no vector/text payload ever enters the loop.
  *
  * AQE is disabled inside the loop: per-round stats never change (same
  * graph), so adaptive re-planning buys nothing and its stage-by-stage
  * materialization multiplies each round's latency (measured
  * 2.1 s → 0.7 s/round at sf0.1). Loop shuffle parallelism is derived
  * from the MATERIALIZED edge count (a fixed narrow setting was measured
  * right at sf0.1 but is corpus-independent — at 100 TB a billion-edge
  * label table must not funnel through 4 tasks); both settings are
  * restored after the loop, so the heavyweight pair-graph build keeps its
  * adaptive plan. */
object Components {

  /** Loop shuffle parallelism from the edge count: ~250k (id, label) rows
    * per task, floor 4 (the measured sf0.1 sweet spot — tiny graphs want
    * minimal per-task overhead, not width). Grows linearly with the graph:
    * 1B edges → 4000 tasks. */
  private[graft] def loopPartitions(nEdges: Long): Int =
    math.max(4L, nEdges / 250000L).toInt

  /** 64-bit mix of an (id, label) row for the convergence checksum
    * (murmur3 finalizer over the two fields' hashCodes — deterministic
    * across JVMs for the primitive/String key types the callers use). */
  private[graft] def rowMix(r: Row): Long = {
    def mix(z0: Long): Long = {
      var z = z0 * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
      z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
      z ^ (z >>> 33)
    }
    val a = r.get(0); val b = r.get(1)
    mix(mix(if (a == null) 0L else a.hashCode().toLong) ^
      (if (b == null) 1L else b.hashCode().toLong))
  }

  /** `pairs`: undirected edges as two id columns. Returns (id, label)
    * with label = the component's minimum member id — the convergence
    * fixed point is partitioning-independent, so results are exact.
    * The final snapshot RDD stays pinned under OpCache's lifetime rule:
    * entry-scoped when an entry calls this directly, memo-owned when a
    * memo build does (the shared phash/minhash label tables). */
  def minLabel(s: SparkSession, pairs: DataFrame): DataFrame = {
    val p2 = pairs.toDF("ia", "ib")
    val edges = p2.union(p2.select(col("ib"), col("ia")))
      .toDF("src", "dst").persist()
    val nEdges = edges.count() // materialize once; the loop reads the cached graph
    try graft.Scoped.withConf(s, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> loopPartitions(nEdges).toString) {
      // Per-round snapshot: persist the round's RDD and rebuild a leaf
      // DataFrame over it (lineage truncation — the loop body references
      // `labels` three times per round: identity ∪ neighbor-propagate ∪
      // pointer-jump, so WITHOUT truncation the logical plan quadruples
      // every round and plan-tree walks go exponential). Unlike the
      // previous localCheckpoint, the superseded round's blocks are
      // explicitly unpersisted once the new round is materialized —
      // otherwise up to 20 rounds of (id, label) blocks accumulate in
      // executor storage for the life of the session.
      var liveRdd: RDD[Row] = null
      var lastChecksum: Long = 0L
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", pairs.schema.fields(0).dataType),
        org.apache.spark.sql.types.StructField("label", pairs.schema.fields(0).dataType)))
      def snap(df: DataFrame): DataFrame = {
        val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        // ONE job materializes the snapshot AND folds the convergence
        // checksum through an accumulator — previously each round paid a
        // separate count() + checksum-aggregate job, i.e. one extra
        // scheduler round-trip per round per consumer entry. The sum of
        // per-row mixed hashes is order/partitioning-independent, and
        // foreach is an action, so accumulator updates are exactly-once
        // per row. Only consecutive-round EQUALITY of the checksum is
        // consumed (fixed-point detection) — any deterministic multiset
        // hash serves, same as the previous bit_xor(xxhash64) aggregate.
        val acc = s.sparkContext.longAccumulator
        rdd.foreach(r => acc.add(Components.rowMix(r)))
        if (liveRdd != null) liveRdd.unpersist(false)
        liveRdd = rdd
        lastChecksum = acc.value
        s.createDataFrame(rdd, schema)
      }
      var labels = snap(edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      var prev = lastChecksum
      var converged = false
      var iter = 0
      while (!converged && iter < 20) {
        val prop = edges.join(labels.select(col("id").as("dst"), col("label")), "dst")
          .select(col("src").as("id"), col("label"))
        val jump = labels.select(col("id"), col("label").as("via"))
          .join(labels.select(col("id").as("via"), col("label")), "via")
          .select("id", "label")
        val next = snap(labels.select("id", "label").union(prop).union(jump)
          .groupBy("id").agg(min("label").as("label")))
        val cs = lastChecksum
        converged = cs == prev
        prev = cs
        labels = next
        iter += 1
      }
      // the final snapshot stays pinned for the caller's downstream plan
      val finalRdd = liveRdd
      OpCache.onRelease(s)(finalRdd.unpersist(false))
      labels
    } finally edges.unpersist()
  }
}
