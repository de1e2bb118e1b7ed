package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.sources.api._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** User-land plugin authoring: register a plugin from outside the library
  * and prove the connector executes its splits concurrently — the property
  * that lets a 1000-executor cluster fan out API pagination. */
object SlowPlugin extends Plugin {
  override def name: String = "slow"
  override def tables: Seq[ApiTable] = Seq(SlowTable)

  val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
}

object SlowTable extends ApiTable {
  override def name: String = "rows"
  override def schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))

  final case class Page(start: Long) extends ApiSplit

  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] =
    (0L until 16L).map(Page)

  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    val cur = SlowPlugin.inFlight.incrementAndGet()
    SlowPlugin.maxInFlight.updateAndGet(m => math.max(m, cur))
    Thread.sleep(50) // simulated API latency
    SlowPlugin.inFlight.decrementAndGet()
    val Page(p) = split: @unchecked
    Iterator.single(qc.columns.map {
      case "id" => java.lang.Long.valueOf(p)
      case "s" => UTF8String.fromString(s"page_$p")
    }.toArray)
  }
}

class PluginApiSpec extends SparkSpec {

  test("externally registered plugin scans its splits concurrently") {
    Graft.registerPlugin(SlowPlugin)
    spark.conf.set("spark.graft.cache.enabled", "false")
    try {
      SlowPlugin.maxInFlight.set(0)
      val n = spark.read.format("graft")
        .option("plugin", "slow").option("table", "rows").load().count()
      assert(n == 16)
      assert(SlowPlugin.maxInFlight.get() >= 4,
        s"splits must run in parallel, max in-flight = ${SlowPlugin.maxInFlight.get()}")
    } finally spark.conf.set("spark.graft.cache.enabled", "true")
  }

  test("external plugin is visible through the catalog") {
    Graft.registerPlugin(SlowPlugin)
    val tables = spark.sql("SHOW TABLES IN graft.slow").collect().map(_.getString(1))
    assert(tables.contains("rows"))
  }

  test("HCL attribute configs parse and apply like JSON (configure_fn.go:57-75)") {
    import graft.sources.api.GraftConfigure
    val next = GraftConfigure.applyConfig("seq",
      "\n# leading comment\n" +
        "profile = \"silver#water\" // '#' inside quotes survives\n" +
        "regions = [\"us-east-1\", \"us-west-2\"]\n" +
        "n       = 4321  # numeric override\n")
    try {
      assert(next.n == 4321, "HCL n must override like the JSON form")
      assert(next.extra("profile") == "silver#water",
        "comment stripping must not eat '#' inside quoted strings")
      assert(next.extra("regions") == """["us-east-1","us-west-2"]""",
        "array extras keep compact JSON form")
      intercept[IllegalArgumentException] {
        GraftConfigure.applyConfig("seq", "not an assignment")
      }
    } finally GraftConfigure.applyConfig("seq", """{"n": 10000}""")
  }
}
