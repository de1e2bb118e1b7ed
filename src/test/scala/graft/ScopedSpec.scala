package graft

/** The one scoped-settings mechanism: its restore contract, a grep that
  * keeps every other session-conf write out of src/main, and one that
  * keeps src/main's settings reads to an allow-list. */
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

  /** (path relative to src/main/scala, lines) of every Scala source. */
  private def mainSources: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the checkout root: $root")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.map { f =>
      root.relativize(f).toString -> java.nio.file.Files.readAllLines(f).asScala.toSeq
    } finally walk.close()
  }

  test("src/main writes session conf only through Scoped.withConf") {
    // (file, line fragment) of every allowed write: the helper itself,
    // the idempotent catalog registration, the harness's tmpfs checkpoint
    // opt-in, and q_topk_per_group's private sub-session
    val allowed = Seq(
      "graft/core.scala" -> "=> s.conf.set(k, v)",
      "graft/sources/api/configure.scala" -> "spark.conf.set(\"spark.sql.catalog.graft\"",
      "graft/streaming/Streams.scala" -> "s.conf.set(\"spark.graft.stream.checkpointDir\"",
      "graft/operators/Relational.scala" -> "s2.conf.set(")
    val hits = mainSources.flatMap { case (rel, lines) =>
      lines.collect { case l if l.contains("conf.set(") => rel -> l.trim }
    }
    val stray = hits.filterNot { case (f, l) =>
      allowed.exists { case (af, frag) => f == af && l.contains(frag) } }
    assert(stray.isEmpty, s"conf.set outside the allowed sites: ${stray.mkString("\n")}")
    assert(hits.count(_._1 == "graft/core.scala") == 2, hits.mkString("\n"))
  }

  test("src/main reads only the allow-listed env vars, system properties and spark.graft keys") {
    // every setting the engine reads: the harness mains' cores, shuffle
    // width, data dir, output file and log level; the connector cache's
    // env switches and session confs; the top-k rewrite switch (its
    // baseline sub-session sets false); the stream checkpoint dir.
    // A tuning value nothing sets is a constant, not an entry here.
    val allowed = Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_OUT", "GRAFT_LOG_LEVEL",
      "GRAFT_CACHE", "GRAFT_CACHE_MAX_TTL", "GRAFT_CACHE_MAX_ROWS",
      "spark.graft.cache.enabled", "spark.graft.cache.ttl",
      "spark.graft.topk.rewrite", "spark.graft.stream.checkpointDir")
    // a read's argument is its literal name, or the raw expression when
    // the name is computed (which no allow-list entry matches)
    val read = """(?:sys\.(?:props|env)\.(?:get|getOrElse)|sys\.env|System\.get(?:env|Property))\(\s*(?:"([^"]*)"|([^)"]*))""".r
    val key = """spark\.graft\.[\w.$]*""".r
    val found = mainSources.flatMap { case (rel, lines) =>
      val text = lines.mkString("\n")
      val names = read.findAllMatchIn(text).map(m => Option(m.group(1)).getOrElse(m.group(2))) ++
        key.findAllIn(text).map(_.stripSuffix("."))
      names.map(rel -> _).toSeq
    }
    val stray = found.filterNot { case (_, k) => allowed(k) }.distinct
    assert(stray.isEmpty, s"settings read outside the allow-list: ${stray.mkString("\n")}")
    val unused = allowed -- found.map(_._2)
    assert(unused.isEmpty, s"allow-listed but never read (drop them): $unused")
  }
}
