package graft

/** The one scoped-settings mechanism: its restore contract, and a grep
  * that keeps every other session-conf write out of src/main. */
class ScopedSpec extends SparkSpec {
  private val setKey = "spark.sql.shuffle.partitions" // set by the spec session
  private val unsetKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("withConf restores a set key, unsets an unset key, also on a throw") {
    val before = spark.conf.getAll
    assert(before.contains(setKey) && !before.contains(unsetKey))
    val seen = Scoped.withConf(spark, setKey -> "3", unsetKey -> "false") {
      (spark.conf.get(setKey), spark.conf.get(unsetKey))
    }
    assert(seen == ("3", "false"))
    intercept[IllegalStateException] {
      Scoped.withConf(spark, setKey -> "5", unsetKey -> "false") {
        throw new IllegalStateException("boom")
      }
    }
    val after = spark.conf.getAll
    assert(after.get(setKey) == before.get(setKey))
    assert(!after.contains(unsetKey), s"$unsetKey must be unset again, not pinned")
  }

  test("src/main writes session conf only through Scoped.withConf") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the checkout root: $root")
    // (file, line fragment) of every allowed write: the helper itself,
    // the idempotent catalog registration, the harness's tmpfs checkpoint
    // opt-in, and q_topk_per_group's private sub-session
    val allowed = Seq(
      "graft/core.scala" -> "=> s.conf.set(k, v)",
      "graft/sources/api/configure.scala" -> "spark.conf.set(\"spark.sql.catalog.graft\"",
      "graft/streaming/Streams.scala" -> "s.conf.set(\"spark.graft.stream.checkpointDir\"",
      "graft/operators/Relational.scala" -> "s2.conf.set(")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.collect {
        case l if l.contains("conf.set(") => rel -> l.trim
      }
    } finally walk.close()
    val stray = hits.filterNot { case (f, l) =>
      allowed.exists { case (af, frag) => f == af && l.contains(frag) } }
    assert(stray.isEmpty, s"conf.set outside the allowed sites: ${stray.mkString("\n")}")
    assert(hits.count(_._1 == "graft/core.scala") == 2, hits.mkString("\n"))
  }
}
