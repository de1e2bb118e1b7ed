package graft

import graft.operators.{Curation2, OpCache}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame

/** OpCache is the one memo of shared stages: one build per key, no entry
  * left by a failed build, pins that live as long as where they were made,
  * memos that end with the session's release, and no second memo map in
  * the operator and streaming code. */
class OpCacheSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("two threads on one key share one build and get the same DataFrame") {
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val call: Callable[DataFrame] = () => {
        go.await()
        OpCache.memo(spark, "spec|single-flight") {
          builds.incrementAndGet()
          Thread.sleep(500)
          spark.range(10).toDF("id").persist()
        }
      }
      val calls = (1 to 2).map(_ => pool.submit(call))
      go.countDown()
      val dfs = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"one key must build once, built ${builds.get} times")
      assert(dfs(0) eq dfs(1))
      assert(dfs(0).count() == 10)
    } finally {
      pool.shutdown()
      OpCache.release(spark)
    }
  }

  test("a build that throws leaves no entry, and the next call builds") {
    val key = "spec|failing-build"
    val e = intercept[IllegalStateException] {
      OpCache.memo(spark, key)(throw new IllegalStateException("build failed"))
    }
    assert(e.getMessage == "build failed")
    var builds = 0
    val df = OpCache.memo(spark, key) { builds += 1; spark.range(3).toDF("id") }
    assert(builds == 1 && df.count() == 3)
    assert(OpCache.memo(spark, key) { builds += 1; spark.range(5).toDF("id") } eq df)
    assert(builds == 1)
    OpCache.release(spark)
  }

  test("a pin made in a memo build lives until release, any other until releaseScoped") {
    OpCache.release(spark)
    var freed = Set.empty[String]
    OpCache.memo(spark, "spec|lifetime") {
      OpCache.onRelease(spark)(freed += "memo")
      1L
    }
    OpCache.onRelease(spark)(freed += "entry")
    OpCache.releaseScoped(spark)
    assert(freed == Set("entry"))
    OpCache.release(spark)
    assert(freed == Set("entry", "memo"))
  }

  test("ta_bpe_learn leaves only memo-owned RDDs pinned after releaseScoped") {
    OpCache.release(spark)
    val base = persistentIds
    // the one memo the entry reads: the word-count base vocabulary
    Curation2.bpeInitSyms(spark, sf).write.format("noop").mode("overwrite").save()
    val memoOwned = persistentIds -- base
    assert(memoOwned.nonEmpty)
    SparkEntry.queries("ta_bpe_learn")(spark, sf).collect()
    OpCache.releaseScoped(spark)
    val left = persistentIds -- base
    assert(left == memoOwned,
      s"entry-local snapshots outlived releaseScoped: ${(left -- memoOwned).size} RDDs")
    OpCache.release(spark)
    assert((persistentIds -- base).isEmpty)
  }

  test("q_bucketed_join rebuilds its tables after release and a dropped catalog") {
    def rows = SparkEntry.queries("q_bucketed_join")(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val first = rows
    OpCache.release(spark)
    val tag = Integer.toHexString(sf.hashCode)
    Seq("g_lineitem_b_", "g_orders_b_").map(_ + tag).foreach { t =>
      assert(spark.catalog.tableExists(t), t)
      spark.sql(s"DROP TABLE $t")
    }
    assert(rows == first)
    OpCache.release(spark)
  }

  test("operators and streaming keep no memo map of their own") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the checkout root: $root")
    val marks = Seq("ConcurrentHashMap", "WeakHashMap", "computeIfAbsent")
    // Streams.sweptBases is a run-once guard, not a memo
    val allowed = Seq("graft/streaming/Streams.scala" ->
      "private val sweptBases = java.util.concurrent.ConcurrentHashMap.newKeySet")
    val hits = Seq("graft/operators", "graft/streaming").flatMap { dir =>
      val walk = java.nio.file.Files.walk(root.resolve(dir))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .filterNot(_.getFileName.toString == "OpCache.scala").flatMap { f =>
          val rel = root.relativize(f).toString
          java.nio.file.Files.readAllLines(f).asScala.collect {
            case l if marks.exists(l.contains) => rel -> l.trim
          }
        }
      finally walk.close()
    }
    val stray = hits.filterNot { case (f, l) =>
      allowed.exists { case (af, start) => f == af && l.startsWith(start) } }
    assert(stray.isEmpty, s"a memo map outside OpCache:\n${stray.mkString("\n")}")
  }
}
