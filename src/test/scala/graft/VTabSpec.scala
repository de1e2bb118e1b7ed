package graft

import graft.plans.DriverScanStrategy
import graft.sources.api._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** `seq.numbers` behind a plugin that counts its `splits` calls. */
object CountingPlugin extends Plugin {
  override def name: String = "counting"
  override def tables: Seq[ApiTable] = Seq(CountingTable(PluginRegistry.plugin("seq").table("numbers")))
  val splitCalls = new java.util.concurrent.atomic.AtomicInteger
}

final case class CountingTable(inner: ApiTable) extends ApiTable {
  override def name: String = inner.name
  override def schema: org.apache.spark.sql.types.StructType = inner.schema
  override def keyColumns: Seq[KeyColumn] = inner.keyColumns
  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] = {
    CountingPlugin.splitCalls.incrementAndGet()
    inner.splits(qc, config)
  }
  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] =
    inner.scan(split, qc, config)
  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    inner.estimatedRows(qc, config)
  override def exactlyHandled(q: Qual): Boolean = inner.exactlyHandled(q)
  override def aggregateSplit(split: ApiSplit, qc: QueryContext, config: PluginConfig,
      aggs: Seq[AggSpec]): Option[Array[Any]] = inner.aggregateSplit(split, qc, config, aggs)
}

/** Connector-layer semantics that results alone can't prove: what actually
  * reached the plugin (pushdown), required-key enforcement, TTL caching.
  * Reference behaviors: table.go (BestIndex), cache.go, configure_fn.go. */
class VTabSpec extends SparkSpec {

  private def numbers: DataFrame =
    spark.read.format("graft").option("plugin", "seq").option("table", "numbers").load()

  private def noCache[T](f: => T): T = {
    spark.conf.set("spark.graft.cache.enabled", "false")
    try f finally spark.conf.set("spark.graft.cache.enabled", "true")
  }

  /** `seq` at 2,000,000 keys: 800 splits of 2,500 rows. */
  private val bigN = 2000000L
  private def atBigN[T](f: => T): T = {
    GraftConfigure.configure(spark, "seq", s"""{"n": $bigN}""")
    try f finally GraftConfigure.configure(spark, "seq", """{"n": 10000}""")
  }

  test("qual pushdown narrows the key range to one split") {
    noCache {
      ScanLedger.reset()
      val n = numbers.filter(col("id") >= 2000L && col("id") < 2100L).collect().length
      assert(n == 100)
      assert(ScanLedger.lastSplitCount == 1, "id-range quals must prune splits")
      val qc = ScanLedger.lastQc.get
      assert(qc.quals.exists(q => q.field == "id" && q.op == ">="))
      assert(qc.quals.exists(q => q.field == "id" && q.op == "<"))
    }
  }

  test("column pruning reaches the plugin") {
    noCache {
      ScanLedger.reset()
      numbers.select("id", "j").filter(col("id") < 10L).collect()
      assert(ScanLedger.lastQc.get.columns.toSet == Set("id", "j"))
    }
  }

  test("non-key quals are pushed AND re-checked by Spark") {
    noCache {
      ScanLedger.reset()
      val n = numbers.filter(col("flag") === true && col("id") < 100L).collect().length
      assert(n == 50)
      assert(ScanLedger.lastQc.get.quals.exists(_.field == "flag"))
    }
  }

  test("boolean comparison quals keep the rows Spark keeps") {
    noCache {
      // false < true, as in Spark; a non-`=` boolean qual used to drop
      // every row before Spark's re-check could see it
      val counts = Seq(col("flag") >= false, col("flag") > false, col("flag") < true,
        col("flag") <= true, col("flag") === false).map(numbers.filter(_).count())
      assert(counts == Seq(10000L, 5000L, 5000L, 10000L, 5000L), s"got $counts")
    }
  }

  test("pushed limit caps plugin work on key-only scans") {
    noCache {
      ScanLedger.reset()
      val rows = numbers.filter(col("id") >= 100L).select("id").limit(50).collect()
      assert(rows.length == 50)
      assert(ScanLedger.lastQc.get.limit.contains(50L))
    }
  }

  test("TopN+OFFSET fully pushed: one ordered page split, Sort/Limit removed") {
    noCache {
      ScanLedger.reset()
      val df = numbers.filter(col("id") < 5000L).select("id")
        .orderBy(col("id").desc).offset(1200).limit(7)
      val ids = df.collect().map(_.getLong(0)).toSeq
      assert(ids == (3793L to 3799L).reverse, s"got $ids")
      assert(ScanLedger.lastSplitCount == 1, "ordered page must be ONE split")
      val qc = ScanLedger.lastQc.get
      assert(qc.orderBy == Seq(SortKey("id", descending = true)))
      assert(qc.offset == 1200L && qc.limit.contains(7L))
      val plan = df.queryExecution.executedPlan.toString
      // physical sort operators print as "Sort [" / "TakeOrderedAndProject"
      // (bare "Sort" would also match SortKey in the scan description)
      assert(!plan.contains("Sort [") && !plan.contains("TakeOrdered"),
        "source answers the TopN fully; Spark must not re-sort\n" + plan)
    }
  }

  test("TopN on a non-key column is NOT pushed; Spark sorts") {
    noCache {
      ScanLedger.reset()
      val df = numbers.filter(col("id") < 100L).select("id", "x")
        .orderBy(col("x").asc, col("id").asc).limit(5)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.map(_._2) == rows.map(_._2).sorted)
      assert(ScanLedger.lastQc.get.orderBy.isEmpty, "x is not an ordered key")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrdered") || plan.contains("Sort"),
        "Spark must keep its own sort\n" + plan)
    }
  }

  test("required key column enforced (reference table.go:180-215)") {
    val kv = spark.read.format("graft").option("plugin", "seq").option("table", "kv").load()
    val e = intercept[Exception] { kv.count() }
    assert(e.getMessage.contains("requires quals on key column"))
    // and with the key present it works like an API GET:
    val row = kv.filter(col("k") === 42L).collect().head
    assert(row.getAs[String]("val") == "v42" && row.getAs[Long]("k2") == 1764L)
  }

  test("TTL cache serves repeat scans without re-fetching (cache.go)") {
    QueryCache.clear()
    ScanLedger.reset()
    val q = numbers.filter(col("id") >= 5000L && col("id") < 5050L)
    q.collect() // row scan (an aggregate would push down and skip the cursor)
    val fetchesAfterFirst = ScanLedger.scans.get()
    assert(fetchesAfterFirst > 0)
    q.collect() // identical QueryContext → served from cache
    assert(ScanLedger.scans.get() == fetchesAfterFirst, "second scan must hit cache")
    assert(QueryCache.hits.get() > 0)
  }

  test("cache TTL expiry forces a re-fetch") {
    QueryCache.clear()
    ScanLedger.reset()
    spark.conf.set("spark.graft.cache.ttl", "0") // immediate expiry
    try {
      val q = numbers.filter(col("id") >= 7000L && col("id") < 7010L)
      q.collect()
      val first = ScanLedger.scans.get()
      Thread.sleep(5)
      q.collect()
      assert(ScanLedger.scans.get() > first, "expired entry must re-fetch")
    } finally spark.conf.set("spark.graft.cache.ttl", "300")
  }

  test("configure changes connection config for subsequent loads (configure_fn.go)") {
    try {
      GraftConfigure.configure(spark, "seq", """{"n": 123}""")
      assert(numbers.count() == 123)
    } finally GraftConfigure.configure(spark, "seq", """{"n": 10000}""")
    assert(numbers.count() == 10000)
  }

  test("catalog SQL path resolves graft.<plugin>.<table>") {
    val n = spark.sql("SELECT * FROM graft.seq.numbers WHERE id < 5").count()
    assert(n == 5)
    val tables = spark.sql("SHOW TABLES IN graft.seq").collect().map(_.getString(1)).toSet
    assert(tables == Set("numbers", "kv", "flaky", "config"))
  }

  test("explain shows pushed filters and pruned schema") {
    val df = numbers.select("id", "x").filter(col("id") >= 9000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), plan)
  }

  test("IN-list pushdown probes one split per value (table.go:127-151)") {
    noCache {
      // values on pages of their own: one one-key probe split each
      ScanLedger.reset()
      val n = numbers.filter(col("id").isin(5L, 2777L, 8888L)).collect().length
      assert(n == 3)
      assert(ScanLedger.lastSplitCount == 3,
        s"IN must expand to per-value probe splits, got ${ScanLedger.lastSplitCount}")
      val q = ScanLedger.lastQc.get.quals.find(_.op == "in").get
      assert(q.field == "id" && q.value.asInstanceOf[Seq[Any]].toSet == Set(5L, 2777L, 8888L))
      // values that share a page share its split
      ScanLedger.reset()
      assert(numbers.filter(col("id").isin(5L, 777L, 8888L)).collect().length == 3)
      assert(ScanLedger.lastSplitCount == 2,
        s"5 and 777 share page [0, 2500), got ${ScanLedger.lastSplitCount} splits")
    }
  }

  /** The Quals the optimized plan's connector scan was built with. */
  private def pushedQuals(df: DataFrame): Seq[Qual] = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan].qc.quals
    }.get
  }

  test("predicates become the same Quals for every operator and column type") {
    val days = spark.read.format("graft").option("plugin", "rest").option("table", "days").load()
    val ts5 = 1704085200000000L // 2024-01-01T05:00 as epoch micros
    val feb1 = java.time.LocalDate.parse("2024-02-01").toEpochDay
    val inSet = (1L to 12L).map(lit) // > 10 values: Catalyst's InSet form
    val cases: Seq[(DataFrame, String, Seq[Qual])] = Seq(
      (numbers, "id = 5", Seq(Qual("id", "=", 5L))),
      (numbers, "id > 5", Seq(Qual("id", ">", 5L))),
      (numbers, "id >= 5", Seq(Qual("id", ">=", 5L))),
      (numbers, "id < 5", Seq(Qual("id", "<", 5L))),
      (numbers, "id <= 5", Seq(Qual("id", "<=", 5L))),
      (numbers, "5 < id", Seq(Qual("id", ">", 5L))),
      (numbers, "5 >= id", Seq(Qual("id", "<=", 5L))),
      (numbers, "id >= 2 AND id < 9", Seq(Qual("id", ">=", 2L), Qual("id", "<", 9L))),
      (numbers, "id IN (7, 3, 5)", Seq(Qual("id", "in", Seq(7L, 3L, 5L)))),
      (numbers, "ts = TIMESTAMP_NTZ'2024-01-01 05:00:00'", Seq(Qual("ts", "=", ts5))),
      (numbers, "ts > TIMESTAMP_NTZ'2024-01-01 05:00:00'", Seq(Qual("ts", ">", ts5))),
      (numbers, "ts >= TIMESTAMP_NTZ'2024-01-01 05:00:00'", Seq(Qual("ts", ">=", ts5))),
      (numbers, "ts < TIMESTAMP_NTZ'2024-01-01 05:00:00'", Seq(Qual("ts", "<", ts5))),
      (numbers, "ts <= TIMESTAMP_NTZ'2024-01-01 05:00:00'", Seq(Qual("ts", "<=", ts5))),
      (numbers, "ts IN (TIMESTAMP_NTZ'2024-01-01 05:00:00')", Seq(Qual("ts", "=", ts5))),
      (days, "day = DATE'2024-02-01'", Seq(Qual("day", "=", feb1))),
      (days, "day > DATE'2024-02-01'", Seq(Qual("day", ">", feb1))),
      (days, "day >= DATE'2024-02-01'", Seq(Qual("day", ">=", feb1))),
      (days, "day < DATE'2024-02-01'", Seq(Qual("day", "<", feb1))),
      (days, "day <= DATE'2024-02-01'", Seq(Qual("day", "<=", feb1))),
      (days, "day IN (DATE'2024-02-01', DATE'2024-01-01')",
        Seq(Qual("day", "in", Seq(feb1, feb1 - 31)))),
      (numbers, "s = 'row_5'", Seq(Qual("s", "=", "row_5"))),
      (numbers, "s > 'row_5'", Seq(Qual("s", ">", "row_5"))),
      (numbers, "s >= 'row_5'", Seq(Qual("s", ">=", "row_5"))),
      (numbers, "s < 'row_5'", Seq(Qual("s", "<", "row_5"))),
      (numbers, "s <= 'row_5'", Seq(Qual("s", "<=", "row_5"))),
      (numbers, "s IN ('row_5', 'row_7')", Seq(Qual("s", "in", Seq("row_5", "row_7")))),
      (numbers, "s LIKE 'row%'", Seq(Qual("s", "starts_with", "row"))),
      (numbers, "flag = true", Seq(Qual("flag", "=", true))),
      (numbers, "flag", Seq(Qual("flag", "=", true))),
      (numbers, "ratio = 0.5D", Seq(Qual("ratio", "=", 0.5))),
      (numbers, "ratio > 0.5D", Seq(Qual("ratio", ">", 0.5))),
      (numbers, "ratio >= 0.5D", Seq(Qual("ratio", ">=", 0.5))),
      (numbers, "ratio < 0.5D", Seq(Qual("ratio", "<", 0.5))),
      (numbers, "ratio <= 0.5D", Seq(Qual("ratio", "<=", 0.5))),
      (numbers, "ratio IN (0.5D, 1.5D)", Seq(Qual("ratio", "in", Seq(0.5, 1.5)))),
      // anything else stays with Spark
      (numbers, "NOT flag", Nil),
      (numbers, "s LIKE '%5'", Nil),
      (numbers, "id + 1 = 5", Nil),
      (numbers, "id <=> 5", Nil),
      (numbers, "id = 5 OR id = 7", Nil))
    val wrong = cases.flatMap { case (df, where, want) =>
      val got = pushedQuals(df.filter(expr(where)))
      if (got == want) None else Some(s"WHERE $where pushed $got, want $want")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // an IN list past the InSet threshold keeps every value
    val got = pushedQuals(numbers.filter(col("id").isin(inSet: _*)))
    assert(got.map(q => (q.field, q.op)) == Seq(("id", "in")) &&
      got.head.value.asInstanceOf[Seq[Any]].toSet == (1L to 12L).toSet, s"got $got")
  }

  test("key bounds saturate at Long.MaxValue: no key lies beyond it, every key below it") {
    val max = Long.MaxValue
    def rows(table: String, where: String): Long =
      spark.sql(s"SELECT * FROM graft.$table WHERE $where").collect().length.toLong
    noCache {
      val wrong = for {
        (table, key, pre, all) <- Seq(
          ("seq.numbers", "id", "", 10000L),
          ("dyn.wide", "id", "", 10000L),
          ("metrics.series", "t", "series_id = 1 AND ", 10000L),
          ("rest.users", "id", "", 600L))
        (op, want) <- Seq(">" -> 0L, ">=" -> 0L, "=" -> 0L, "<=" -> all, "<" -> all)
        got = rows(table, s"$pre$key $op $max") if got != want
      } yield s"$table WHERE $pre$key $op $max: $got rows, want $want"
      assert(wrong.isEmpty, wrong.mkString("\n"))
      // a GET table answers any key, the largest one too
      assert(rows("seq.kv", s"k = $max") == 1L)
    }
  }

  test("runtime filtering: broadcast build side narrows splits at RUNTIME " +
      "(SupportsRuntimeV2Filtering, the DSv2 DPP analog)") {
    noCache {
      ScanLedger.reset()
      val dim = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .filter(col("n_regionkey") === 1L).select(col("n_nationkey"))
      val n = numbers.join(dim, col("id") === col("n_nationkey"))
        .select("id", "x").count()
      assert(n == 5)
      val keys = dim.collect().map(_.getAs[Number](0).longValue).toSet
      assert(ScanLedger.lastRuntimeQuals.map(q => (q.field, q.op)) == Seq(("id", "in")) &&
        ScanLedger.lastRuntimeQuals.head.value.asInstanceOf[Seq[Any]].toSet == keys,
        s"runtime IN qual must reach the scan, got ${ScanLedger.lastRuntimeQuals}")
      assert(ScanLedger.lastSplitCount == 1,
        s"5 build-side keys on page [0, 2500) must become 1 probe split, got " +
          s"${ScanLedger.lastSplitCount}")
    }
  }

  /** nation ⋈ supplier ⋈ numbers for the nations of `region`, with the
    * numbers side narrowed to [0, idBelow): (n_name, count, sum(x)). */
  private def regionJoin(region: Long, idBelow: Long): DataFrame = {
    val nation = spark.read.parquet(s"$sf/nation.parquet").filter(col("n_regionkey") === region)
    val supplier = spark.read.parquet(s"$sf/supplier.parquet")
    nation.join(supplier, col("s_nationkey") === col("n_nationkey"))
      .join(numbers.filter(col("id") < idBelow), col("id") === col("s_suppkey"))
      .groupBy("n_name").agg(count(lit(1)).as("c"), sum("x").as("sx"))
  }

  test("runtime key pruning: a connector join that is not planned as a broadcast " +
      "still probes only the build side's keys") {
    noCache {
      Scoped.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        ScanLedger.reset()
        val region = 4L // two suppliers, against 4 pages of numbers
        val df = regionJoin(region, 10000L)
        val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        // the expected join, from the two parquet tables alone
        val nations = spark.read.parquet(s"$sf/nation.parquet")
          .filter(col("n_regionkey") === region).collect()
          .map(r => r.getAs[Number]("n_nationkey").longValue -> r.getAs[String]("n_name")).toMap
        val supp = spark.read.parquet(s"$sf/supplier.parquet").collect()
          .map(r => (r.getAs[Number]("s_suppkey").longValue, r.getAs[Number]("s_nationkey").longValue))
          .filter { case (_, nk) => nations.contains(nk) }
        val want = supp.groupBy { case (_, nk) => nations(nk) }.map { case (name, ss) =>
          (name, ss.length.toLong, ss.map { case (k, _) => (k * 7) % 97 }.sum)
        }.toSet
        assert(supp.nonEmpty && got == want, s"got $got, want $want")
        val keys = supp.map(_._1).toSet
        assert(ScanLedger.lastRuntimeQuals.map(q => (q.field, q.op)) == Seq(("id", "in")) &&
          ScanLedger.lastRuntimeQuals.head.value.asInstanceOf[Seq[Any]].toSet == keys,
          s"the build side's keys must reach the scan, got ${ScanLedger.lastRuntimeQuals}")
        val pages = keys.map(_ / 2500L).size
        assert(ScanLedger.lastSplitCount == pages,
          s"${keys.size} supplier keys on $pages pages must become $pages probe splits, " +
            s"got ${ScanLedger.lastSplitCount}")
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
          "the join must not be a broadcast\n" + plan)
      }
    }
  }

  test("runtime key pruning leaves the filter off when the build side " +
      "outweighs half the scan estimate") {
    noCache {
      Scoped.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        ScanLedger.reset()
        // numbers narrowed to 40 keys: ~2.5 kB estimated, below the ~6 kB of
        // the nation and supplier files the build side would read again
        val df = regionJoin(3L, 40L)
        assert(df.collect().map(_.getLong(1)).sum == 4L)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("dynamicpruningexpression(true)"),
          "no runtime subquery for a build side this large\n" + plan)
        assert(ScanLedger.lastRuntimeQuals.isEmpty)
      }
    }
  }

  test("a probe list longer than the page count reads only the pages that hold a probe") {
    val idKey = NumbersTable.keyColumns.head
    def plan(keys: Seq[Long]): Seq[ApiSplit] = KeyRange.all(10000L)
      .narrow(Seq(Qual("id", "in", keys)), idKey).splits(2500L)(RangeSplit(_, _, desc = false, _))
    // probes on pages of their own: one one-key split each
    assert(plan(Seq(7L, 2600L, 9999L)) == Seq(RangeSplit(7, 8), RangeSplit(2600, 2601),
      RangeSplit(9999, 10000)))
    // a page of several probes is one split carrying them, however few
    assert(plan(0L until 2500L) == Seq(RangeSplit(0, 2500, probes = Some(0L until 2500L))))
    assert(plan(Seq(3L, 5L)) == Seq(RangeSplit(0, 2500, probes = Some(Seq(3L, 5L)))))
    // one split per page that holds a probe, carrying its probe keys, in
    // key order
    assert(plan((0L until 5000L) :+ 9000L) == Seq(RangeSplit(0, 2500, probes = Some(0L until 2500L)),
      RangeSplit(2500, 5000, probes = Some(2500L until 5000L)),
      RangeSplit(9000, 9001)))
    noCache {
      ScanLedger.reset()
      val keys = (0L until 10000L by 2L)
      val ids = numbers.filter(col("id").isin(keys: _*)).select("id", "x").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == keys, "the scan must keep exactly the probe keys")
      assert(ScanLedger.lastSplitCount <= 4,
        s"5,000 keys over 4 pages must plan at most 4 splits, got ${ScanLedger.lastSplitCount}")
    }
  }

  test("pushed COUNT/MIN/MAX over a probe list read as pages count only the probe keys") {
    noCache {
      ScanLedger.reset()
      // odd keys from 5 to 9903: no page bound is a key, so an answer
      // taken from the page bounds cannot pass
      val keys = 5L until 9905L by 2L
      val r = numbers.filter(col("id").isin(keys: _*))
        .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((keys.length.toLong, keys.min, keys.max)),
        s"got $r for ${keys.length} keys in [${keys.min}, ${keys.max}]")
      assert(ScanLedger.lastPushedAggs.map(_.fn) == Seq("count_star", "min", "max") &&
        ScanLedger.lastSplitCount <= 4,
        s"the aggregate must be pushed over page splits, got ${ScanLedger.lastPushedAggs} " +
          s"over ${ScanLedger.lastSplitCount} splits")
    }
  }

  test("aggregate pushdown answers COUNT/MIN/MAX without any pagination " +
      "(SupportsPushDownAggregates partial mode)") {
    noCache {
      ScanLedger.reset()
      val r = numbers.filter(col("id") >= 1000L && col("id") < 9000L)
        .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((8000L, 1000L, 8999L)))
      assert(ScanLedger.lastPushedAggs.map(_.fn) == Seq("count_star", "min", "max"),
        s"aggs must reach the builder, got ${ScanLedger.lastPushedAggs}")
      assert(ScanLedger.scans.get() == 0,
        "closed-form aggregates must not paginate the plugin")
    }
  }

  test("timestamp quals reach the plugin as epoch micros (mapping.go:108-158)") {
    noCache {
      ScanLedger.reset()
      val n = numbers.filter(
        col("ts") >= lit("2024-01-01 05:00:00").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-01 06:00:00").cast("timestamp_ntz")).collect().length
      assert(n == 60) // one row per minute
      assert(ScanLedger.lastSplitCount == 1, "ts range must narrow to one page")
      val quals = ScanLedger.lastQc.get.quals.filter(_.field == "ts")
      assert(quals.exists(q => q.op == ">=" &&
        q.value == 1704085200000000L)) // 2024-01-01T05:00Z micros
      assert(quals.exists(q => q.op == "<" && q.value == 1704088800000000L))
    }
  }

  test("dynamic schema refresh after configure (configure_fn.go:104-125)") {
    try {
      GraftConfigure.configure(spark, "dyn", """{"cols": "x,y"}""")
      val df1 = spark.sql("SELECT * FROM graft.dyn.wide WHERE id < 3")
      assert(df1.columns.toSeq == Seq("id", "x", "y"))
      GraftConfigure.configure(spark, "dyn", """{"cols": "z"}""")
      val df2 = spark.sql("SELECT * FROM graft.dyn.wide WHERE id < 3")
      assert(df2.columns.toSeq == Seq("id", "z"), "new load must see the new schema")
      // the pre-configure DataFrame keeps its snapshot (no mid-plan flip)
      assert(df1.columns.toSeq == Seq("id", "x", "y"))
      assert(df2.collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L)) // z = id * 2
    } finally GraftConfigure.configure(spark, "dyn", """{"cols": "a"}""")
  }

  test("query cache is size-bounded (LRU eviction, no unbounded growth)") {
    val oldMax = QueryCache.maxWeight
    QueryCache.clear()
    try {
      QueryCache.maxWeight = 100 // rows
      (0 until 50).foreach { i =>
        QueryCache.getOrFetch(s"key_$i", ttlSeconds = 300)(
          Iterator.fill(10)(Array[Any](i)))
      }
      assert(QueryCache.currentWeight <= 100,
        s"weight ${QueryCache.currentWeight} exceeds budget")
      assert(QueryCache.size <= 10, s"size ${QueryCache.size} not LRU-bounded")
      // most-recent entries survive
      var served = false
      QueryCache.getOrFetch("key_49", ttlSeconds = 300) {
        served = true; Iterator.empty
      }
      assert(!served, "most recent entry must still be cached")
      // a fetch larger than the whole budget is served but not cached: it
      // must neither evict the entries already held nor overrun the budget
      val sizeBefore = QueryCache.size
      val big = QueryCache.getOrFetch("oversized", ttlSeconds = 300)(
        Iterator.fill(150)(Array[Any](-1)))
      assert(big.length == 150, "an oversized fetch must still return all its rows")
      assert(QueryCache.currentWeight <= 100,
        s"weight ${QueryCache.currentWeight} exceeds budget after an oversized fetch")
      assert(QueryCache.size == sizeBefore, "earlier entries must survive an oversized fetch")
      served = false
      QueryCache.getOrFetch("key_49", ttlSeconds = 300) {
        served = true; Iterator.empty
      }
      assert(!served, "an oversized fetch must not evict earlier entries")
    } finally { QueryCache.maxWeight = oldMax; QueryCache.clear() }
  }

  test("query cache: an expired entry is never served, and leaves before any live one") {
    val oldMax = QueryCache.maxWeight
    QueryCache.clear()
    try {
      var fetches = 0
      def get(key: String, ttl: Long, rows: Int) =
        QueryCache.getOrFetch(key, ttl) { fetches += 1; Iterator.fill(rows)(Array[Any](key)) }.length
      // a TTL of 0 s expires on insert: every lookup fetches again
      get("gone", 0, 4); get("gone", 0, 4)
      assert(fetches == 2 && QueryCache.hits.get() == 0L, s"$fetches fetches")
      QueryCache.clear()
      QueryCache.maxWeight = 10 // rows
      get("live_old", 300, 4); get("expired", 0, 4); get("live_new", 300, 4)
      // room for live_new came from the expired entry, not from the least
      // recently used live one
      fetches = 0
      get("live_old", 300, 4); get("live_new", 300, 4)
      assert(fetches == 0 && QueryCache.size == 2 && QueryCache.currentWeight == 8L,
        s"$fetches fetches, ${QueryCache.size} entries, weight ${QueryCache.currentWeight}")
    } finally { QueryCache.maxWeight = oldMax; QueryCache.clear() }
  }

  test("query cache: 4 threads running disjoint scans get their rows within the budget") {
    val oldMax = QueryCache.maxWeight
    QueryCache.clear()
    try {
      QueryCache.maxWeight = 6000 // rows: less than the 4 threads read between them
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val results = (0 until 4).map { t =>
          pool.submit(new java.util.concurrent.Callable[Seq[String]] {
            def call(): Seq[String] = (0 until 3).flatMap { round =>
              val (lo, hi) = (t * 2500L, t * 2500L + 2000L)
              val got = spark.sql(s"SELECT id, x FROM graft.seq.numbers WHERE id >= $lo AND id < $hi")
                .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
              val weight = QueryCache.currentWeight
              val want = (lo until hi).map(i => i -> (i * 7) % 97)
              (if (got != want) Seq(s"thread $t round $round: wrong rows") else Nil) ++
                (if (weight > 6000L) Seq(s"thread $t round $round: weight $weight") else Nil)
            }
          })
        }
        val wrong = results.flatMap(_.get())
        assert(wrong.isEmpty, wrong.mkString("\n"))
        assert(QueryCache.currentWeight <= 6000L, s"weight ${QueryCache.currentWeight}")
      } finally pool.shutdown()
    } finally { QueryCache.maxWeight = oldMax; QueryCache.clear() }
  }

  test("query cache keys are the hex SHA-256 of the serialized config, split and context") {
    val key = QueryCache.stableKey(PluginConfig(), RangeSplit(0L, 2500L),
      QueryContext(Seq("id", "x"), Seq(Qual("id", ">=", 5L)), None))
    assert(key == "54feff62df529d7224f0d7ad0f0fa9a3ced698c5365e6bd6cbc91476da48d6b5", key)
  }

  test("narrowed connector scan reports stats and broadcasts into a parquet join") {
    // without SupportsReportStatistics a connector table is assumed huge
    // and a 100-row API page would sort-merge-join a fact table
    val api = numbers.filter(col("id") >= 100L && col("id") < 200L)
      .select(col("id"), col("x"))
    val fact = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val joined = fact.join(api, col("l_orderkey") === col("id"))
    joined.queryExecution.toRdd.count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "narrowed API scan must broadcast:\n" + p)
  }

  test("LIKE-prefix qual inverts to exact key-range splits") {
    noCache {
      ScanLedger.reset()
      val rows = numbers.filter(col("s").startsWith("row_123"))
        .select("id").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == (123L +: (1230L to 1239L)).sorted,
        s"got ${rows.mkString(",")}")
      assert(ScanLedger.lastQc.get.quals.exists(q =>
        q.field == "s" && q.op == "starts_with"), "prefix qual must reach the plugin")
      assert(ScanLedger.lastSplitCount == 2,
        s"one split per magnitude range, got ${ScanLedger.lastSplitCount}")
    }
  }

  test("IN probes intersect pushed LIKE-prefix ranges (IN × starts_with)") {
    // regression pin for the exactlyHandled contract: both quals are
    // claimed exact, so Spark drops its residual LIKE — if the IN branch
    // of splits() ignored the prefix ranges, id=5 would leak back
    noCache {
      ScanLedger.reset()
      val rows = numbers
        .filter(col("id").isin(5L, 1230L) && col("s").startsWith("row_123"))
        .select("id").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1230L), s"got ${rows.mkString(",")}")
      val quals = ScanLedger.lastQc.get.quals
      assert(quals.exists(q => q.field == "id" && q.op == "in"),
        s"IN qual must reach the plugin, got $quals")
      assert(quals.exists(q => q.field == "s" && q.op == "starts_with"),
        s"prefix qual must reach the plugin, got $quals")
      assert(ScanLedger.lastSplitCount == 1,
        s"only the prefix-surviving probe id=1230 may split, got ${ScanLedger.lastSplitCount}")
    }
  }

  test("metrics series_id RANGE quals stay residual (only '=' is exact)") {
    // SeriesTable.splits() ignores series_id ranges, so exactlyHandled must
    // NOT claim them — claiming exact would make Spark drop its residual
    // re-check and a range qual the plugin never enforces would leak the
    // whole enumerated sid page. (A plan-level `= AND >` probe folds to
    // false under ConstantPropagation before it reaches the scan, so the
    // contract is pinned at the API layer.)
    assert(SeriesTable.exactlyHandled(Qual("series_id", "=", 5L)),
      "series_id '=' is enforced by splits() and must be claimed exact")
    for (op <- Seq(">", ">=", "<", "<="))
      assert(!SeriesTable.exactlyHandled(Qual("series_id", op, 5L)),
        s"series_id '$op' is ignored by splits() and must stay residual")
    // and t ranges ARE enforced: claimed exact, splits narrowed accordingly
    noCache {
      ScanLedger.reset()
      val series = spark.read.format("graft")
        .option("plugin", "metrics").option("table", "series").load()
      val kept = series
        .filter(col("series_id") === 5L && col("t") >= 10L && col("t") < 110L)
        .collect()
      assert(kept.length == 100, s"expected the narrowed t page, got ${kept.length}")
      val qc = ScanLedger.lastQc.get
      assert(qc.quals.exists(q => q.field == "series_id" && q.op == "="),
        s"required key must reach the plugin, got ${qc.quals}")
      assert(qc.quals.count(_.field == "t") == 2,
        s"both t bounds must reach the plugin, got ${qc.quals}")
      // IN is not a declared t operator: it narrows nothing, Spark applies it
      assert(series.filter(col("series_id") === 5L && col("t").isin(3L, 5L, 7L))
        .collect().map(_.getAs[Long]("t")).sorted.toSeq == Seq(3L, 5L, 7L))
    }
  }

  test("declared-from-config plugin serves through the same pushdown path") {
    noCache {
      ScanLedger.reset()
      val users = spark.read.format("graft")
        .option("plugin", "rest").option("table", "users").load()
      val n = users.filter(col("id") >= 100L && col("id") < 350L).collect().length
      assert(n == 250)
      assert(ScanLedger.lastSplitCount == 1,
        s"id range must narrow to one 250-row page, got ${ScanLedger.lastSplitCount}")
      val quals = ScanLedger.lastQc.get.quals
      assert(quals.exists(q => q.field == "id" && q.op == ">="), s"got $quals")
      // IN probes through the generic interpreter too
      ScanLedger.reset()
      val probed = users.filter(col("id").isin(5L, 17L, 400L)).collect()
      assert(probed.length == 3)
      assert(ScanLedger.lastSplitCount == 2, "one probe split per 250-row page that holds a probe")
    }
  }

  test("DATE quals reach the declared table as epoch-days key ranges") {
    noCache {
      ScanLedger.reset()
      val days = spark.read.format("graft")
        .option("plugin", "rest").option("table", "days").load()
      val rows = days
        .filter(expr("day >= DATE'2024-02-01' AND day < DATE'2024-03-01'"))
        .collect()
      assert(rows.length == 29, s"Feb 2024 has 29 days, got ${rows.length}")
      val quals = ScanLedger.lastQc.get.quals
      val ge = quals.collectFirst { case Qual("day", ">=", v: Long) => v }
      val lt = quals.collectFirst { case Qual("day", "<", v: Long) => v }
      assert(ge.contains(java.time.LocalDate.parse("2024-02-01").toEpochDay),
        s"'>=' date qual must arrive as epoch days, got $quals")
      assert(lt.contains(java.time.LocalDate.parse("2024-03-01").toEpochDay),
        s"'<' date qual must arrive as epoch days, got $quals")
      assert(ScanLedger.lastSplitCount == 1,
        s"date range must narrow to one page split, got ${ScanLedger.lastSplitCount}")
    }
  }

  test("transient failures retry per split and the scan still completes") {
    import graft.sources.api.ScanLedger
    ScanLedger.reset()
    val df = spark.read.format("graft").option("plugin", "seq")
      .option("table", "flaky").load()
    assert(df.count() === 10000L)
    // 10000 / 2500 page size = 4 splits, each failed exactly once
    assert(ScanLedger.retries.get() === 4L,
      s"expected one retry per split, got ${ScanLedger.retries.get()}")
  }

  test("packed scan: 800 splits run as at most leaf-parallelism tasks") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    atBigN {
      noCache {
        ScanLedger.reset()
        // sum(x) keeps the aggregate off the pushdown path: a row scan
        val df = numbers.agg(count(lit(1)), sum(col("x")))
        val r = df.head()
        var wantSum = 0L
        var i = 0L
        while (i < bigN) { wantSum += (i * 7) % 97; i += 1 }
        assert((r.getLong(0), r.getLong(1)) == ((bigN, wantSum)))
        assert(ScanLedger.lastSplitCount == 800, s"got ${ScanLedger.lastSplitCount} splits")
        assert(ScanLedger.scans.get() == 800L, "every split is one plugin call")
        val scan = new AdaptiveSparkPlanHelper {}
          .collectFirst(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.get
        val parts = scan.inputRDD.getNumPartitions
        assert(parts > 1 && parts <= spark.sparkContext.defaultParallelism,
          s"800 splits must pack into at most ${spark.sparkContext.defaultParallelism} " +
            s"partitions, got $parts")
      }
    }
  }

  test("packed scan: transient failures still retry once per split, not per task") {
    atBigN {
      noCache {
        ScanLedger.reset()
        val df = spark.read.format("graft").option("plugin", "seq")
          .option("table", "flaky").load()
        assert(df.count() === bigN)
        assert(ScanLedger.retries.get() === 800L,
          s"expected one retry per split, got ${ScanLedger.retries.get()}")
      }
    }
  }

  test("packed scan: a repeat scan is served per split from the cache") {
    atBigN {
      QueryCache.clear()
      ScanLedger.reset()
      // 200 splits, 500,000 rows: within the cache's row budget
      val q = numbers.filter(col("id") < 500000L).agg(sum(col("x")))
      val first = q.head().getLong(0)
      assert(ScanLedger.lastSplitCount == 200)
      val fetched = ScanLedger.scans.get()
      assert(fetched == 200L, s"one plugin call per split, got $fetched")
      assert(q.head().getLong(0) == first)
      assert(ScanLedger.scans.get() == fetched, "second scan must be served from cache")
      assert(QueryCache.hits.get() == 200L, s"got ${QueryCache.hits.get()} cache hits")
      QueryCache.clear()
    }
  }

  test("packed scan: LIMIT over a residual filter reads a packed run lazily") {
    atBigN {
      noCache {
        ScanLedger.reset()
        val ids = spark.sql("SELECT id FROM graft.seq.numbers WHERE x = 3 LIMIT 5")
          .collect().map(_.getLong(0))
        assert(ids.length == 5 && ids.forall(i => (i * 7) % 97 == 3), ids.mkString(","))
        assert(ScanLedger.scans.get() <= 2L,
          s"LIMIT 5 must stop fetching pages once it has its rows, fetched " +
            s"${ScanLedger.scans.get()} of ${ScanLedger.lastSplitCount} splits")
      }
    }
  }

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.SpecBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.SpecBridge.drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def executed(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("a scan of at most one page runs on the driver: no job for a point, " +
      "an IN list, an ordered page or a kv GET") {
    noCache {
      def x(i: Long) = (i * 7) % 97
      val cases: Seq[(String, Seq[Seq[Any]])] = Seq(
        "SELECT id, x, s, flag FROM graft.seq.numbers WHERE id = 4242" ->
          Seq(Seq(4242L, x(4242), "row_4242", true)),
        "SELECT id, x, s FROM graft.seq.numbers WHERE id IN (5, 777, 8888)" ->
          Seq(5L, 777L, 8888L).map(i => Seq(i, x(i), s"row_$i")),
        "SELECT id, s FROM graft.seq.numbers WHERE id < 5000 ORDER BY id DESC LIMIT 7 OFFSET 1200" ->
          (3799L to 3793L by -1L).map(i => Seq(i, s"row_$i")),
        "SELECT k, val, k2 FROM graft.seq.kv WHERE k IN (3, 42, 42)" ->
          Seq(Seq(3L, "v3", 9L), Seq(42L, "v42", 1764L)))
      val wrong = cases.flatMap { case (q, want) =>
        val df = spark.sql(q)
        val (rows, jobs) = jobsOf(df.collect().map(_.toSeq).toSeq)
        val got = if (q.contains("ORDER BY")) rows else rows.sortBy(_.head.asInstanceOf[Long])
        if (got == want && jobs == 0 && executed(df).contains("DriverScan ")) None
        else Some(s"$q: $jobs jobs, rows $got, want $want\n${executed(df)}")
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    }
  }

  test("a driver scan answers head() and LIMIT through executeTake, stopping at its rows") {
    noCache {
      // s LIKE 'row_12%' is the key ranges [12, 13), [120, 130) and
      // [1200, 1300): three splits of one page. x = 71 is left for Spark,
      // so the limit is not pushed; key 121, in the second split, is the
      // first match
      val df = numbers.filter(col("s").startsWith("row_12") && col("x") === 71L).select("id")
      ScanLedger.reset()
      val (ids, jobs) = jobsOf(df.head(1).map(_.getLong(0)).toSeq)
      assert(ids == Seq(121L) && jobs == 0, s"got $ids with $jobs jobs")
      assert(ScanLedger.lastSplitCount == 3 && ScanLedger.scans.get() == 2L,
        s"read ${ScanLedger.scans.get()} of ${ScanLedger.lastSplitCount} splits")
      val limited = df.limit(1)
      val (n, limitJobs) = jobsOf(limited.collect().length)
      assert(n == 1 && limitJobs == 0, s"$n rows, $limitJobs jobs")
      assert(executed(limited).contains("CollectLimit") && executed(limited).contains("DriverScan "),
        executed(limited))
    }
  }

  test("a one-page scan under an aggregate plans no Exchange and runs no job") {
    noCache {
      val df = numbers.filter(col("id") < 1000L).agg(sum(col("x")))
      val (r, jobs) = jobsOf(df.head().getLong(0))
      assert(r == (0L until 1000L).map(i => (i * 7) % 97).sum)
      assert(jobs == 0, s"$jobs jobs")
      val p = executed(df)
      assert(p.contains("DriverAggregate ") && p.contains("DriverScan ") && !p.contains("Exchange"), p)
    }
  }

  test("a one-page scan under an aggregate plans no Exchange and runs one job") {
    noCache {
      // with the broadcast threshold off, Spark's aggregate runs over the driver scan
      Scoped.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df = numbers.filter(col("id") < 1000L).agg(sum(col("x")))
        val (r, jobs) = jobsOf(df.head().getLong(0))
        assert(r == (0L until 1000L).map(i => (i * 7) % 97).sum)
        assert(jobs == 1, s"$jobs jobs")
        val p = executed(df)
        assert(p.contains("DriverScan ") && !p.contains("DriverAggregate ") && !p.contains("Exchange"), p)
      }
    }
  }

  /** `sql`'s rows, and its executed plan, with no driver aggregate: the
    * broadcast threshold that gates it is off. */
  private def onJobPath(sql: String): (Seq[Seq[Any]], String) =
    Scoped.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      (df.collect().map(_.toSeq).toSeq, executed(df))
    }

  test("a global aggregate over a scan within the broadcast threshold runs on the driver: " +
      "no job, and the rows of the job path") {
    noCache {
      val t = "graft.seq.numbers"
      val cases = Seq(
        s"SELECT count(*), min(id), max(id) FROM $t WHERE id >= 123 AND id < 9000",
        s"SELECT count(*), sum(x), max(s) FROM $t",
        s"SELECT avg(x), sum(x) / count(*) FROM $t WHERE id < 7777",
        s"SELECT count(*), sum(x), min(s) FROM $t WHERE id >= 20000",
        s"SELECT count(*), min(id), max(id) FROM $t WHERE id >= 20000")
      val wrong = cases.flatMap { q =>
        val df = spark.sql(q)
        val (rows, jobs) = jobsOf(df.collect().map(_.toSeq).toSeq)
        val (want, jobPlan) = onJobPath(q)
        if (rows == want && jobs == 0 && executed(df).contains("DriverAggregate ") &&
            !jobPlan.contains("DriverAggregate ")) None
        else Some(s"$q: $jobs jobs, rows $rows, want $want\n${executed(df)}")
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
      assert(spark.sql(cases(3)).collect().map(_.toSeq).toSeq == Seq(Seq(0L, null, null)))
      val (n, countJobs) = jobsOf(numbers.filter(col("id") < 5000L).count())
      assert(n == 5000L && countJobs == 0, s"count $n with $countJobs jobs")
      // the one job is the outer projection's, which a constant select runs too
      val (subRows, subJobs) = jobsOf(spark.sql(
        s"SELECT (SELECT count(*) FROM $t WHERE id < 3000) AS c").collect().map(_.getLong(0)).toSeq)
      val (_, outerJobs) = jobsOf(spark.sql("SELECT 3000L AS c").collect())
      assert(subRows == Seq(3000L) && subJobs == outerJobs,
        s"scalar subquery $subRows with $subJobs jobs, $outerJobs without it")
    }
  }

  test("a flaky aggregate on the driver still retries once per split") {
    noCache {
      ScanLedger.reset()
      val q = "SELECT count(*), sum(x) FROM graft.seq.flaky"
      val df = spark.sql(q)
      val (rows, jobs) = jobsOf(df.collect().map(_.toSeq).toSeq)
      assert(jobs == 0 && executed(df).contains("DriverAggregate "), executed(df))
      assert(ScanLedger.retries.get() == 4L && ScanLedger.lastSplitCount == 4,
        s"${ScanLedger.retries.get()} retries over ${ScanLedger.lastSplitCount} splits")
      assert(rows == onJobPath(q)._1, s"rows $rows")
    }
  }

  test("aggregates the driver does not fold keep the job path") {
    noCache {
      val t = "graft.seq.numbers"
      val cases = Seq(
        s"SELECT count(DISTINCT x) FROM $t WHERE id < 5000" -> Seq(97L),
        s"SELECT count(*) FILTER (WHERE x < 10) FROM $t WHERE id < 970" -> Seq(100L),
        s"SELECT percentile_approx(id, 0.5, 10000) FROM $t WHERE id < 1001" -> Seq(500L))
      val wrong = cases.flatMap { case (q, want) =>
        val df = spark.sql(q)
        val (rows, jobs) = jobsOf(df.collect().map(_.toSeq).toSeq)
        if (rows == Seq(want) && jobs >= 1 && !executed(df).contains("DriverAggregate ")) None
        else Some(s"$q: $jobs jobs, rows $rows, want ${Seq(want)}\n${executed(df)}")
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
      val (rows, plan) = onJobPath(s"SELECT count(*), sum(x) FROM $t WHERE id < 1000")
      assert(rows == Seq(Seq(1000L, (0L until 1000L).map(i => (i * 7) % 97).sum)) &&
        !plan.contains("DriverAggregate "), plan)
      atBigN {
        // 2,000,000 rows of x: 80 MB by the scan's estimate, over the 10 MB threshold
        val df = spark.sql(s"SELECT count(*), sum(x) FROM $t")
        val (big, jobs) = jobsOf(df.collect().map(_.toSeq).toSeq)
        assert(big == Seq(Seq(bigN, (0L until bigN).map(i => (i * 7) % 97).sum)) && jobs >= 1 &&
          !executed(df).contains("DriverAggregate "), s"$big with $jobs jobs\n${executed(df)}")
        // 100,000 rows: within the byte threshold, over the driver's row bound
        val wide = spark.sql(s"SELECT sum(x) FROM $t WHERE id < 100000")
        val stats = wide.queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.asInstanceOf[GraftScan].estimateStatistics()
        }.get
        assert(stats.numRows().getAsLong > DriverScanStrategy.MaxAggregateRows &&
          stats.sizeInBytes().getAsLong <= SQLConf.get.autoBroadcastJoinThreshold,
          s"${stats.numRows()} rows, ${stats.sizeInBytes()} bytes")
        val (sum100k, wideJobs) = jobsOf(wide.head().getLong(0))
        assert(sum100k == (0L until 100000L).map(i => (i * 7) % 97).sum && wideJobs >= 1 &&
          !executed(wide).contains("DriverAggregate "), s"$sum100k with $wideJobs jobs\n${executed(wide)}")
      }
    }
  }

  test("a scan plans its splits once per context") {
    Graft.registerPlugin(CountingPlugin)
    noCache {
      CountingPlugin.splitCalls.set(0)
      val pushed = spark.read.format("graft").option("plugin", "counting").option("table", "numbers")
        .load().filter(col("id") >= 10L && col("id") < 9000L).agg(count(lit(1)), min(col("id")))
      assert(pushed.collect().map(_.toSeq).toSeq == Seq(Seq(8990L, 10L)))
      assert(executed(pushed).contains("aggs=["), executed(pushed))
      // one probe while the aggregate is pushed, one for the scan itself
      assert(CountingPlugin.splitCalls.get() == 2, s"${CountingPlugin.splitCalls.get()} calls")
    }
  }

  test("a driver scan of no split is one empty partition: a global aggregate answers one row " +
      "and a sort-merge join zips") {
    noCache {
      // both ranges narrow to no split at n = 10,000; the estimate is 0 rows
      val empty = Seq("id >= 20000", "id > 5 AND id < 3")
      // (aggregates, pushed to the plugin?, the one row they answer)
      val aggs = Seq(
        ("count(*)", true, Seq(0L)),
        ("count(*), min(id), max(id)", true, Seq(0L, null, null)),
        ("count(x), sum(x), min(id)", false, Seq(0L, null, null)))
      // the driver aggregate, then, with the broadcast threshold off, Spark's
      // aggregate over the driver scan's one partition
      def wrong(driverAgg: Boolean) = for {
        w <- empty
        (a, pushed, want) <- aggs
        df = spark.sql(s"SELECT $a FROM graft.seq.numbers WHERE $w")
        rows = df.collect().map(_.toSeq).toSeq
        p = executed(df)
        if rows != Seq(want) || !p.contains("DriverScan ") || p.contains("aggs=[") != pushed ||
          p.contains("DriverAggregate ") != driverAgg || p.contains("Exchange")
      } yield s"$a WHERE $w: rows $rows, want ${Seq(want)}\n$p"
      val onDriver = wrong(driverAgg = true)
      assert(onDriver.isEmpty, onDriver.mkString("\n"))
      Scoped.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val underSpark = wrong(driverAgg = false)
        assert(underSpark.isEmpty, underSpark.mkString("\n"))
        val nothing = numbers.filter(col("id") >= 20000L).select(col("id").as("k"), col("s"))
        val df = numbers.filter(col("id") < 3000L).select("id")
          .join(nothing, col("id") === col("k"), "left_outer")
        val rows = df.collect()
        assert(rows.length == 3000 && rows.forall(_.isNullAt(1)), s"${rows.length} rows")
        val p = executed(df)
        assert(p.contains("SortMergeJoin") && p.contains("DriverScan "), p)
      }
    }
  }

  test("a driver scan serves a repeat read from the query cache") {
    QueryCache.clear()
    ScanLedger.reset()
    val q = numbers.filter(col("id") === 6001L).select("id", "s")
    val (first, jobs1) = jobsOf(q.collect().map(_.getString(1)).toSeq)
    val fetched = ScanLedger.scans.get()
    val (second, jobs2) = jobsOf(q.collect().map(_.getString(1)).toSeq)
    assert(first == Seq("row_6001") && second == first)
    assert(fetched == 1L && ScanLedger.scans.get() == fetched, "second read must hit the cache")
    assert(QueryCache.hits.get() == 1L && jobs1 == 0 && jobs2 == 0)
    QueryCache.clear()
  }

  test("a one-page flaky scan on the driver still retries once per split") {
    try {
      GraftConfigure.configure(spark, "seq", """{"n": 2500}""")
      noCache {
        ScanLedger.reset()
        val df = spark.read.format("graft").option("plugin", "seq").option("table", "flaky").load()
        val (n, jobs) = jobsOf(df.collect().length)
        assert(n == 2500 && jobs == 0, s"$n rows, $jobs jobs")
        assert(ScanLedger.retries.get() == 1L && ScanLedger.lastSplitCount == 1,
          s"${ScanLedger.retries.get()} retries over ${ScanLedger.lastSplitCount} splits")
      }
    } finally GraftConfigure.configure(spark, "seq", """{"n": 10000}""")
  }

  test("row estimates: a pushed aggregate counts its splits, kv its GET keys, flaky its rows") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def estimate(df: DataFrame): Long = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan].estimateStatistics()
    }.get.numRows().getAsLong
    noCache {
      atBigN {
        ScanLedger.reset()
        val agg = numbers.filter(col("id") >= 1000L && col("id") < 1001000L)
          .agg(count(lit(1)), min(col("id")), max(col("id")))
        assert(agg.head().getLong(0) == 1000000L)
        assert(ScanLedger.lastPushedAggs.nonEmpty && ScanLedger.lastSplitCount == 400)
        assert(estimate(agg) == 400L, s"estimate ${estimate(agg)}, want one row per split")
        assert(executed(agg).contains("DriverScan ") && !executed(agg).contains("Exchange"),
          executed(agg))
        val flaky = spark.read.format("graft").option("plugin", "seq").option("table", "flaky").load()
        assert(estimate(flaky) == bigN)
      }
    }
    val kv = spark.sql("SELECT * FROM graft.seq.kv WHERE k IN (1, 2, 3, 3)")
    assert(estimate(kv) == 3L)
  }

  test("scans that are not one page, or carry a dynamic-pruning filter, keep Spark's job path") {
    import org.apache.spark.sql.streaming.Trigger
    noCache {
      // larger than one page: 3,000 rows over 2 splits
      val big = numbers.filter(col("id") < 3000L).select("id")
      val (n, jobs) = jobsOf(big.collect().length)
      assert(n == 3000 && jobs >= 1, s"$n rows, $jobs jobs")
      assert(executed(big).contains("BatchScan") && !executed(big).contains("DriverScan "),
        executed(big))
      // 40 keys, but under a dynamic-pruning filter
      Scoped.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df = regionJoin(3L, 40L)
        assert(df.collect().map(_.getLong(1)).sum == 4L)
        val p = executed(df)
        assert(p.contains("dynamicpruningexpression") && !p.contains("DriverScan "), p)
      }
    }
    // a stream over a one-page table keeps its micro-batch scan
    try {
      GraftConfigure.configure(spark, "seq", """{"n": 2000}""")
      val q = spark.readStream.format("graft").option("plugin", "seq").option("table", "numbers")
        .load().select("id").writeStream.format("memory").queryName("driver_scan_stream")
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        assert(spark.table("driver_scan_stream").count() == 2000L)
        val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
        assert(p.contains("MicroBatchScan") && !p.contains("DriverScan "), p)
      } finally q.stop()
    } finally GraftConfigure.configure(spark, "seq", """{"n": 10000}""")
  }

  test("config table emits valid JSON even with quotes in values") {
    try {
      GraftConfigure.configure(spark, "seq", """{"note": "say \"hi\" \\ bye"}""")
      val json = spark.sql("SELECT config FROM graft.seq.config").head.getString(0)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      assert(node.get("note").asText() == "say \"hi\" \\ bye")
      assert(node.get("n").asLong() == 10000L)
    } finally GraftConfigure.configure(spark, "seq", """{"note": ""}""")
  }
}
