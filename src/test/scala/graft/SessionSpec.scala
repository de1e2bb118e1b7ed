package graft

import graft.plans.{DriverScanStrategy, TopKRewrite, TopKStrategy}
import graft.sources.api.GraftCatalog
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.internal.SQLConf

/** The one session builder: its conf set, a test session wired before any
  * spec runs, an entry that wires a session its caller built, and greps
  * that keep session building, wiring and stopping out of every other
  * src/main site. */
class SessionSpec extends SparkSpec {

  test("GraftSession.confs is exactly Bench's six standard confs") {
    assert(GraftSession.confs("4") == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false"))
    // BenchScale no longer sets this: it is Spark's own default
    assert(new SQLConf().getConfString("spark.sql.adaptive.coalescePartitions.enabled") == "true")
  }

  test("the test session is wired from the start, and re-wiring changes nothing") {
    def state = (
      spark.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier("minhash_sig")),
      spark.experimental.extraStrategies, spark.experimental.extraOptimizations)
    val (builder, strategies, rules) = state
    assert(builder.isDefined, "minhash_sig must resolve without any spec registering it")
    assert(strategies.count(_ == TopKStrategy) == 1, strategies.toString)
    assert(strategies.count(_ == DriverScanStrategy) == 1, strategies.toString)
    assert(rules.count(_ == TopKRewrite) == 1, rules.toString)
    assert(spark.conf.get("spark.sql.catalog.graft") == classOf[GraftCatalog].getName)
    Graft.init(spark)
    val (builder2, strategies2, rules2) = state
    assert(builder2.get eq builder.get, "re-wiring must not replace a registered function")
    assert(strategies2 == strategies && rules2 == rules)
    assert(strategies2.count(_ == DriverScanStrategy) == 1, strategies2.toString)
  }

  test("an entry wires a bare session its caller built") {
    val bare = spark.newSession()
    val ip = FunctionIdentifier("cidr_contains")
    assert(!bare.sessionState.functionRegistry.functionExists(ip), "newSession starts unwired")
    try {
      assert(SparkEntry.queries("q_net_funcs")(bare, sf).count() == 2000)
      assert(bare.sessionState.functionRegistry.functionExists(ip))
      assert(bare.experimental.extraStrategies.contains(TopKStrategy))
    } finally operators.OpCache.release(bare)
  }

  test("src/main builds a session only in GraftSession and wires it only in Graft.init") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the checkout root: $root")
    val marks = Seq("SparkSession.builder", "F.register(", "GraftOps.register(", "ensureCatalog(")
    // (file, line start) of every allowed site: the builder, Graft.init's
    // three wiring calls, and the public configure call with its helper
    val allowed = Seq(
      "graft/Graft.scala" -> "val b = SparkSession.builder()",
      "graft/Graft.scala" -> "functions.F.register(spark)",
      "graft/Graft.scala" -> "plans.GraftOps.register(spark)",
      "graft/Graft.scala" -> "sources.api.GraftConfigure.ensureCatalog(spark)",
      "graft/sources/api/configure.scala" -> "ensureCatalog(spark)",
      "graft/sources/api/configure.scala" -> "def ensureCatalog(spark: SparkSession)")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.collect {
        case l if marks.exists(l.contains) => rel -> l.trim
      }
    } finally walk.close()
    val stray = hits.filterNot { case (f, l) =>
      allowed.exists { case (af, start) => f == af && l.startsWith(start) } }
    assert(stray.isEmpty, s"session building or wiring outside GraftSession / Graft.init:\n${stray.mkString("\n")}")
    assert(hits.size == allowed.size, hits.mkString("\n"))
  }

  test("src/main stops a session only in GraftSession.stop") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val stop = "\\b(spark|session|s)\\.stop\\(\\)".r
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.collect {
        case l if stop.findFirstIn(l).isDefined => rel -> l.trim
      }
    } finally walk.close()
    assert(hits == Seq("graft/Graft.scala" -> "s.stop()"), hits.mkString("\n"))
  }
}
