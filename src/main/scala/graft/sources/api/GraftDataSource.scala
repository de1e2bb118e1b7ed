package graft.sources.api

import java.util
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 provider — the Spark-idiomatic re-expression of the
  * reference's SQLite virtual-table module (module.go + table.go):
  *
  *   - SupportsPushDownV2Filters    ↔ xBestIndex qual pushdown (table.go:75)
  *   - SupportsRuntimeV2Filtering   ↔ join-key probes at run time, through
  *     the same Predicate → Qual translation (GraftScanBuilder.qualOf);
  *     no plan-time broadcast needed (graft.plans.RuntimeKeyPruning)
  *   - KeyRange narrowing + paging  ↔ BestIndex range costing, shared by
  *     every key-range table
  *   - SupportsPushDownRequiredColumns ↔ ColUsed bitmask (table.go:262),
  *     and per-column row building in each table (RowGen)
  *   - SupportsPushDownLimit        ↔ SQLITE_INDEX_CONSTRAINT_LIMIT (table.go:56)
  *   - InputPartition (serialized QueryContext) ↔ IndexString JSON (table.go:224)
  *   - required-key validation at build() ↔ allRequiredKeyColsInConstraints
  *   - a run of splits read in order by one task ↔ the one cursor (cursor.go)
  *   - scan of ≤ one page read on the driver ↔ the in-process cursor
  *     (cursor.go): no Spark job for a point, key-list GET or ordered page;
  *     a global aggregate over a scan within the broadcast threshold is
  *     folded on the driver too (graft.plans.DriverScanStrategy)
  *
  * A split (ApiSplit) is the unit of plugin call, retry, QueryCache key and
  * ScanLedger count. A Spark task is not: `GraftInputPartition.pack` groups
  * the splits into contiguous runs, at most leaf parallelism of them, and
  * the reader walks a run's splits lazily — so an 800-page scan is one task
  * per core, and a one-split lookup or ordered page stays one task.
  *
  * Like the reference (ConstraintUsage.Omit=false keeps SQLite re-checking
  * every constraint), every predicate is also returned as residual unless
  * the table enforces its qual exactly (ApiTable.exactlyHandled): the
  * source prunes, Spark re-verifies — belt and braces at zero extra
  * shuffle cost.
  *
  * Usage: spark.read.format("graft").option("plugin","seq")
  *        .option("table","numbers").load()             — or —
  *        spark.sql("SELECT ... FROM graft.seq.numbers") via GraftCatalog. */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def resolve(options: CaseInsensitiveStringMap): (Plugin, ApiTable) = {
    val plugin = PluginRegistry.plugin(
      Option(options.get("plugin")).getOrElse("seq"))
    val table = plugin.table(
      Option(options.get("table")).getOrElse(
        throw new IllegalArgumentException("option 'table' is required")))
    (plugin, table)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (plugin, table) = resolve(options)
    table.schemaFor(PluginRegistry.config(plugin.name))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (plugin, table) = resolve(opts)
    // Config snapshot at load() time: one DataFrame = one connection view,
    // later GraftConfigure calls don't mutate plans already handed out.
    GraftTable(plugin.name, table, PluginRegistry.config(plugin.name))
  }

  override def supportsExternalMetadata(): Boolean = true
}

case class GraftTable(pluginAlias: String, table: ApiTable, config: PluginConfig)
    extends Table with SupportsRead {
  override def name(): String = s"$pluginAlias.${table.name}"
  // schema resolved against the SNAPSHOTTED config: a dynamic-schema plugin
  // (reference configure_fn.go:104-125) presents the post-configure schema
  // on the next load, while plans already handed out keep theirs
  override def schema(): StructType = table.schemaFor(config)
  override def capabilities(): util.Set[TableCapability] =
    if (table.latestKey(config).isDefined)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(pluginAlias, table, config)
}

class GraftScanBuilder(pluginAlias: String, table: ApiTable, config: PluginConfig)
    extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownOffset
    with SupportsPushDownAggregates {

  private var pushed: Array[Predicate] = Array.empty
  private var quals: Seq[Qual] = Nil
  private var requiredSchema: StructType = table.schemaFor(config)
  private var limit: Option[Long] = None
  private var topN: Option[(SortKey, Int)] = None
  private var pushedOffset: Int = 0
  private var pushedAggs: Option[Seq[AggSpec]] = None

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val translated = predicates.map(p => (p, GraftScanBuilder.qualOf(p)))
    pushed = translated.collect { case (p, Some(_)) => p }
    quals = translated.toSeq.flatMap(_._2)
    // Exactly-handled quals are accepted (no residual) so Limit can reach
    // the scan; everything else stays residual (reference: Omit=false).
    translated.collect { case (p, q) if !q.exists(table.exactlyHandled) => p }
  }
  override def pushedPredicates(): Array[Predicate] = pushed
  override def pruneColumns(required: StructType): Unit = requiredSchema = required
  override def pushLimit(l: Int): Boolean = { limit = Some(l.toLong); true }
  // One method serves BOTH SupportsPushDownLimit and SupportsPushDownTopN:
  // plain LIMIT stays partial (Spark re-applies it — splits each cut at
  // `limit` but several splits may run); an accepted TopN is answered
  // FULLY (one ordered page split), so Spark removes its Sort+Limit.
  override def isPartiallyPushed: Boolean = topN.isEmpty

  /** DSv2 TopN pushdown: `ORDER BY <key> [DESC] LIMIT n` becomes one
    * sorted page fetch when the plugin's key space is ordered (the
    * `?sort=key&per_page=n` API shape) — no pagination, no cluster sort.
    * Only taken when the table promises the full contract
    * (supportsOrderedPage), since Spark deletes its own Sort on a full
    * push. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (orders.length != 1) return false
    val o = orders.head
    val key = o.expression() match {
      case n: org.apache.spark.sql.connector.expressions.NamedReference
          if n.fieldNames.length == 1 =>
        Some(SortKey(n.fieldNames.head, o.direction() == SortDirection.DESCENDING))
      case _ => None
    }
    key match {
      case Some(k) =>
        val probe = QueryContext(requiredSchema.fieldNames.toSeq, quals,
          Some(l.toLong), Seq(k), 0L)
        if (quals.forall(table.exactlyHandled) &&
            table.supportsOrderedPage(probe, config)) {
          topN = Some((k, l)); true
        } else false
      case None => false
    }
  }

  /** OFFSET rides the accepted TopN (Spark pushes `LIMIT n OFFSET m` as
    * TopN(n+m) then offset m): the page starts m rows into the ordered
    * stream — `?page=` pagination answered at the source. */
  override def pushOffset(o: Int): Boolean = topN match {
    case Some(_) => pushedOffset = o; true
    case None => false
  }

  /** DSv2 aggregate pushdown (PARTIAL mode): a plugin that can answer
    * COUNT/MIN/MAX in closed form (the API count endpoint) returns one
    * partial row per split and Spark runs the final merge — no pagination
    * at all. Only taken when every pushed qual is exactly enforced: with a
    * residual re-check pending, a pushed aggregate would count rows Spark
    * might still drop. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
        case _ => None
      }
    if (agg.groupByExpressions.nonEmpty) return false
    if (!quals.forall(table.exactlyHandled)) return false
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggSpec("count_star", None))
      case m: Min => fieldOf(m.column).map(f => AggSpec("min", Some(f)))
      case m: Max => fieldOf(m.column).map(f => AggSpec("max", Some(f)))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    val flat = specs.flatten
    // probe the table once: can it answer this agg set in closed form?
    val qc = QueryContext(requiredSchema.fieldNames.toSeq, quals, None)
    val answerable = table.splits(qc, config).headOption
      .forall(s => table.aggregateSplit(s, qc, config, flat).isDefined)
    if (!answerable) return false
    pushedAggs = Some(flat)
    // readSchema must align positionally with the aggregate expressions
    requiredSchema = StructType(flat.map {
      case AggSpec("count_star", _) =>
        org.apache.spark.sql.types.StructField("count_star",
          org.apache.spark.sql.types.LongType, nullable = false)
      case AggSpec(fn, Some(f)) =>
        val src = table.schemaFor(config)(f)
        org.apache.spark.sql.types.StructField(s"$fn($f)", src.dataType, src.nullable)
      case other => throw new IllegalStateException(s"unreachable: $other")
    })
    true
  }

  override def build(): Scan = {
    // Only push LIMIT to the source when it cannot change results: with
    // residual quals the source's early cut could starve Spark's re-check.
    // (Spark only calls pushLimit in that shape anyway; this is defensive.)
    val qc = topN match {
      case Some((key, l)) =>
        // Spark pushed TopN(limit+offset) then offset: the page to emit is
        // positions [offset, limit) of the ordered stream → limit field
        // carries the page SIZE, offset the page start.
        QueryContext(requiredSchema.fieldNames.toSeq, quals,
          Some(math.max(0L, l.toLong - pushedOffset)), Seq(key), pushedOffset.toLong)
      case None => QueryContext(requiredSchema.fieldNames.toSeq, quals,
        limit.filter(_ => quals.forall(table.exactlyHandled)))
    }
    // Required-key enforcement (reference table.go:180-215; it responds
    // with a max-cost plan so the plugin errors richly — we fail fast).
    val missing = table.keyColumns.filter(_.required)
      .filterNot(k => quals.exists(q => q.field == k.name && k.operators.contains(q.op)))
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"table '${table.name}' of plugin '$pluginAlias' requires quals on key column(s) " +
        s"${missing.map(_.name).mkString(", ")} (e.g. WHERE ${missing.head.name} = ...)")
    val spark = SparkSession.active
    // env controls mirror the reference's STEAMPIPE_CACHE /
    // STEAMPIPE_CACHE_MAX_TTL (constants.go:7-8, cache.go:11-33); the
    // Spark confs refine them per session
    val envEnabled = sys.env.get("GRAFT_CACHE").forall(_.toBoolean)
    val cacheEnabled = envEnabled &&
      spark.conf.get("spark.graft.cache.enabled", "true").toBoolean
    val envMaxTtl = sys.env.get("GRAFT_CACHE_MAX_TTL").map(_.toLong)
    val cacheTtl = math.min(
      spark.conf.get("spark.graft.cache.ttl", "300").toLong,
      envMaxTtl.getOrElse(Long.MaxValue))
    pushedAggs.foreach(a => ScanLedger.lastPushedAggs = a)
    GraftScan(pluginAlias, table, config, qc, requiredSchema, cacheEnabled, cacheTtl,
      pushedAggs)
  }
}

object GraftScanBuilder {
  import org.apache.spark.sql.connector.expressions.Expression

  /** Each comparison operator with its mirror, for `literal op column`. */
  private val mirrored = Map("=" -> "=", ">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=")

  /** The one DSv2 Predicate → Qual translation, for compile-time pushdown
    * (pushPredicates) and runtime filters (GraftScan.filter) alike: the
    * comparisons the reference plugin protocol understands
    * (mapping.go:34-60); IN, which SQLite decomposes into repeated `=`
    * probes (table.go:127-151) — here one Qual("in", values) the table may
    * expand into one split per value; and STARTS_WITH, the form of
    * `LIKE 'prefix%'`, which a plugin whose string column embeds the key
    * inverts to exact key ranges. Anything else stays with Spark. */
  def qualOf(p: Predicate): Option[Qual] = {
    val ch = p.children()
    p.name() match {
      case "IN" if ch.length >= 2 =>
        val vs = ch.tail.toSeq.map(valueOf)
        for (f <- fieldOf(ch.head) if vs.forall(_.isDefined)) yield Qual(f, "in", vs.flatten)
      case "STARTS_WITH" if ch.length == 2 =>
        for (f <- fieldOf(ch(0)); v <- valueOf(ch(1)) if v.isInstanceOf[String])
          yield Qual(f, "starts_with", v)
      case op if ch.length == 2 && mirrored.contains(op) =>
        (for (f <- fieldOf(ch(0)); v <- valueOf(ch(1))) yield Qual(f, op, v))
          .orElse(for (f <- fieldOf(ch(1)); v <- valueOf(ch(0))) yield Qual(f, mirrored(op), v))
      case _ => None
    }
  }

  // NamedReference/Literal are the public DSv2 faces (FieldReference/
  // LiteralValue are private[sql])
  private def fieldOf(e: Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
    case _ => None
  }

  /** Typed qual values reach the plugin Catalyst-external (reference
    * mapping.go:108-158 parses TIMESTAMP/DATETIME the same way):
    * timestamps as epoch micros, dates as epoch days. Without this an
    * event-time range on an API table degrades to a full pagination plus a
    * residual filter. A NULL or an unlisted type stays with Spark. */
  private def valueOf(e: Expression): Option[Any] = {
    import org.apache.spark.sql.types._
    e match {
      case l: Literal[_] if l.value != null => l.dataType match {
        case LongType => Some(l.value.asInstanceOf[Long])
        case IntegerType => Some(l.value.asInstanceOf[Int].toLong)
        case ShortType => Some(l.value.asInstanceOf[Short].toLong)
        case StringType => Some(l.value.toString)
        case BooleanType => Some(l.value.asInstanceOf[Boolean])
        case DoubleType => Some(l.value.asInstanceOf[Double])
        case FloatType => Some(l.value.asInstanceOf[Float].toDouble)
        case TimestampType | TimestampNTZType => Some(l.value.asInstanceOf[Long])
        case DateType => Some(l.value.asInstanceOf[Int].toLong)
        case _ => None
      }
      case _ => None
    }
  }
}

case class GraftScan(pluginAlias: String, table: ApiTable, config: PluginConfig,
    qc: QueryContext, prunedSchema: StructType, cacheEnabled: Boolean, cacheTtl: Long,
    pushedAggs: Option[Seq[AggSpec]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = prunedSchema

  /** DSv2 runtime filtering — the v2 analog of dynamic partition pruning:
    * when this table is the probe side of a join on a key column, Spark
    * materializes the build side FIRST and hands its join-key values here
    * as an IN predicate, which the plugin turns into per-value probe splits
    * (the same path as vt_in_pushdown). The keys come from the reused
    * broadcast of a broadcast join, or, for a join not planned as one, from
    * a subquery over the build side (RuntimeKeyPruning). A cloud-API table
    * joined to a 25-row dim then fetches 25 keys instead of paginating the
    * account — pruning decided at RUNTIME from data, not at plan time. */
  @transient private var runtimeQuals: Seq[Qual] = Seq.empty

  override def filterAttributes(): Array[NamedReference] =
    // only key columns that survived column pruning: Spark resolves these
    // against the scan OUTPUT, and a pruned-away key can't be filtered on
    table.keyColumns.map(_.name).filter(prunedSchema.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    runtimeQuals = predicates.toSeq.flatMap(GraftScanBuilder.qualOf)
    ScanLedger.lastRuntimeQuals = runtimeQuals
  }

  /** Compile-time context + runtime quals. The source-side limit is kept
    * only if the runtime quals are exactly enforced too (same safety rule
    * as build()). */
  private def effectiveQc: QueryContext =
    if (runtimeQuals.isEmpty) qc
    else QueryContext(qc.columns, qc.quals ++ runtimeQuals,
      qc.limit.filter(_ => runtimeQuals.forall(table.exactlyHandled)))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan($pluginAlias.${table.name}, quals=[${qc.quals.mkString(", ")}], " +
      s"limit=${qc.limit.getOrElse(-1L)}, columns=[${qc.columns.mkString(",")}]" +
      (if (qc.orderBy.nonEmpty)
        s", orderBy=[${qc.orderBy.mkString(",")}], offset=${qc.offset}" else "") +
      pushedAggs.fold("")(a => s", aggs=[${a.mkString(",")}]") + ")"

  /** The last effective context's splits: the strategies, Catalyst's
    * statistics and `planInputPartitions` all ask for them, and a table
    * plans them from the context alone. */
  @transient private var planned: (QueryContext, Seq[ApiSplit]) = _

  private def splitsOf(eqc: QueryContext): Seq[ApiSplit] = synchronized {
    if (planned == null || planned._1 != eqc) planned = (eqc, table.splits(eqc, config))
    planned._2
  }

  /** Qual-narrowed size estimate → Catalyst join planning: a key-narrowed
    * API page is broadcast-able instead of forcing a sort-merge join, a
    * scan of at most one page runs on the driver, and so does a global
    * aggregate over a scan within the broadcast threshold
    * (DriverScanStrategy). A pushed aggregate returns one partial row per
    * split. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows =
      if (pushedAggs.isDefined) Some(splitsOf(qc).length.toLong)
      else table.estimatedRows(qc, config).map(r => qc.limit.fold(r)(l => math.min(r, l)))
    override def numRows(): java.util.OptionalLong =
      rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    override def sizeInBytes(): java.util.OptionalLong =
      rows.fold(java.util.OptionalLong.empty())(r =>
        java.util.OptionalLong.of(r * (24L * prunedSchema.size + 16L)))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val eqc = effectiveQc
    val ss = splitsOf(eqc)
    ScanLedger.lastSplitCount = ss.length
    GraftInputPartition.pack(ss, eqc)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(pluginAlias, table, config, cacheEnabled, cacheTtl, pushedAggs)

  /** Streaming read of an ordered-key plugin table — the API-polling shape
    * as a first-class Structured Streaming source (beyond the batch-only
    * reference): the offset is a key-space position; each micro-batch scans
    * the [start, end) range that appeared since the last trigger, through
    * the same split/pushdown machinery as the batch path. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(this)
}

/** Key-space offset (json = the exclusive upper key already ingested). */
case class GraftKeyOffset(key: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = key.toString
}

class GraftMicroBatchStream(scan: GraftScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftKeyOffset(0L)
  override def latestOffset(): Offset =
    GraftKeyOffset(scan.table.latestKey(scan.config).getOrElse(0L))
  override def deserializeOffset(json: String): Offset = GraftKeyOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftKeyOffset].key
    val hi = end.asInstanceOf[GraftKeyOffset].key
    // the batch's key window rides in as ordinary range quals on the
    // table's (first) key column, so the plugin's own narrowing + paging
    // logic plans the micro-batch
    val keyCol = scan.table.keyColumns.headOption.map(_.name).getOrElse("id")
    val qc = QueryContext(scan.qc.columns,
      scan.qc.quals ++ Seq(Qual(keyCol, ">=", lo), Qual(keyCol, "<", hi)), None)
    GraftInputPartition.pack(scan.table.splits(qc, scan.config), qc)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(scan.pluginAlias, scan.table, scan.config,
      cacheEnabled = false, scan.cacheTtl)
}

/** One Spark task's share of a scan: a contiguous run of splits, in split
  * order, read one after another under the same QueryContext. */
case class GraftInputPartition(splits: Seq[ApiSplit], qc: QueryContext) extends InputPartition

object GraftInputPartition {
  /** Groups `splits` into at most leaf-parallelism contiguous runs of
    * near-equal length (`spark.sql.leafNodeDefaultParallelism` when set,
    * else the default parallelism — what Spark gives leaf scans such as
    * `range`). Parallelism then follows the cluster, not how the remote
    * source pages its data; concatenating the runs gives the split order. */
  def pack(splits: Seq[ApiSplit], qc: QueryContext): Array[InputPartition] = {
    val ss = splits.toIndexedSeq
    val k = math.min(ss.length, GraftBridge.leafParallelism(SparkSession.active))
    def start(i: Int): Int = (i.toLong * ss.length / k).toInt
    Array.tabulate[InputPartition](k)(i =>
      GraftInputPartition(ss.slice(start(i), start(i + 1)), qc))
  }
}

case class GraftReaderFactory(pluginAlias: String, table: ApiTable,
    config: PluginConfig, cacheEnabled: Boolean, cacheTtl: Long,
    pushedAggs: Option[Seq[AggSpec]] = None)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      // Transient API failures retry at split granularity (the reference
      // SDK's RetryConfig analog): a rate-limited page re-fetches without
      // failing the whole Spark task. Attempt count from connection
      // config; backoff is skipped for determinism in local runs (a
      // production plugin sleeps inside its own scan()).
      private def withRetry(f: => Iterator[Array[Any]]): Iterator[Array[Any]] = {
        val attempts = config.extra.get("retry_attempts").map(_.toInt).getOrElse(3)
        var last: Throwable = null
        var i = 0
        while (i < attempts) {
          try return f
          catch { case e: TransientApiError =>
            last = e; ScanLedger.retries.incrementAndGet()
          }
          i += 1
        }
        throw last
      }
      private def read(split: ApiSplit): Iterator[Array[Any]] = {
        // pushed aggregate: one closed-form partial row per split, no
        // pagination, no cache involvement (nothing heavy to cache)
        def fetch = pushedAggs match {
          case Some(aggs) =>
            Iterator.single(table.aggregateSplit(split, p.qc, config, aggs).getOrElse(
              throw new IllegalStateException(
                s"plugin accepted aggregate pushdown but returned no row for $aggs")))
          case None =>
            ScanLedger.record(p.qc); withRetry(table.scan(split, p.qc, config))
        }
        if (cacheEnabled && pushedAggs.isEmpty)
          // config is part of the key: two connections with identical splits
          // but different connection config must not share entries. The key
          // is content-hashed from serialized forms (a user-land non-case-
          // class split would make toString an identity hash — cache misses
          // at best, hash-collision row mixups at worst).
          QueryCache.getOrFetch(
            s"$pluginAlias/${table.name}/" +
              QueryCache.stableKey(config, split, p.qc), cacheTtl)(fetch)
        else fetch
      }
      // splits are fetched lazily, one after another: a LIMIT or an
      // executeTake that has its rows stops before the next API page
      private val it: Iterator[Array[Any]] = p.splits.iterator.flatMap(read)
      private var current: Array[Any] = _
      override def next(): Boolean = { if (it.hasNext) { current = it.next(); true } else false }
      override def get(): InternalRow = new GenericInternalRow(current.asInstanceOf[Array[Any]])
      override def close(): Unit = ()
    }
  }
}

/** TableCatalog exposing every registered plugin as a namespace:
  * `SELECT ... FROM graft.<plugin>.<table>` — the Spark analog of the
  * reference's dynamic-schema table registration (configure_fn.go:150+,
  * setupTables). Register once per session:
  * spark.conf spark.sql.catalog.graft = graft.sources.api.GraftCatalog */
class GraftCatalog extends TableCatalog {
  private var catalogName = "graft"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val plugin = PluginRegistry.plugin(namespace.head)
    (plugin.tables.map(t => Identifier.of(namespace, t.name)) :+
      Identifier.of(namespace, "config")).toArray
  }
  override def loadTable(ident: Identifier): Table = {
    val plugin = PluginRegistry.plugin(ident.namespace().head)
    if (ident.name == "config") ConfigTable(plugin.name)
    else GraftTable(plugin.name, plugin.table(ident.name), PluginRegistry.config(plugin.name))
  }
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft tables are plugin-defined (read-only)")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft tables are read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft tables are read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables are read-only")
}
