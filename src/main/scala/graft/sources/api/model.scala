package graft.sources.api

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.types.StructType

/** The connector-side model, re-expressing the reference's virtual-table
  * contract Spark-first:
  *
  *   reference                          graft
  *   ---------------------------------  -----------------------------------
  *   QueryContext{columns,quals,limit}  QueryContext (table.go:28-33)
  *   Qual{field,operator,value}         Qual         (table.go:40-46)
  *   plugin.TableSchema key columns     KeyColumn    (table.go:180-215)
  *   xBestIndex range costing           KeyRange narrowing in ApiTable.splits
  *   LocalPluginStream row cursor       ApiTable.scan iterator (cursor.go)
  *   STEAMPIPE_CACHE / _CACHE_TTL       spark.graft.cache.enabled/.ttl (cache.go)
  *   steampipe_configure_<plugin>()     GraftConfigure.configure (configure_fn.go)
  */

/** One pushed-down constraint. Operators mirror mapping.go:34-60:
  * "=", ">", ">=", "<", "<=", plus "in" (value: Seq of normalized values —
  * the analog of SQLite decomposing IN into repeated `=` probes that each
  * hit xBestIndex, reference table.go:127-151). Values are
  * Catalyst-external (Long, Double, String, Boolean, epoch-micros Long for
  * timestamps, epoch-days Long for dates — reference mapping.go:108-158
  * parses TIMESTAMP/DATETIME qual strings the same way). */
final case class Qual(field: String, op: String, value: Any) extends Serializable

/** One pushed ORDER BY key (DSv2 TopN pushdown — beyond the reference,
  * whose vtables always enumerate in rowid order). */
final case class SortKey(field: String, descending: Boolean) extends Serializable

/** The scan contract handed to a plugin table (reference table.go:28-33).
  * `orderBy`/`offset` are set only when the plugin accepted a TopN/OFFSET
  * pushdown (supportsOrderedPage): splits() must then cover exactly the
  * rows at positions [offset, offset+limit) of the ordered stream, in
  * order — the API pagination shape `?sort=key&page=..&per_page=..`. */
final case class QueryContext(
    columns: Seq[String],
    quals: Seq[Qual],
    limit: Option[Long],
    orderBy: Seq[SortKey] = Nil,
    offset: Long = 0L) extends Serializable

/** Key-column declaration (reference: plugin.KeyColumn — required key
  * columns MUST appear as quals or the scan is rejected, table.go:180-215). */
final case class KeyColumn(
    name: String,
    required: Boolean,
    operators: Seq[String] = Seq("=")) extends Serializable

object KeyColumn {
  /** The comparison operators a key range answers. */
  val comparisons: Seq[String] = Seq("=", ">", ">=", "<", "<=")
}

/** The row keys a key-range table must read once its pushed key-column
  * quals are applied: a union of disjoint [lo, hi) ranges and, when an `=`
  * or IN qual was pushed, the probe keys among them (SQLite decomposes IN
  * into repeated `=` probes the same way, reference table.go:127-151).
  * numbers, wide, series and every declared table narrow their key space
  * with `narrow` and split it with `splits`; kv takes its GET keys from
  * `KeyRange.probeKeys`. */
final case class KeyRange(ranges: Seq[(Long, Long)], in: Option[Seq[Long]] = None) {
  import KeyRange._

  /** This key space narrowed by the quals on `key` whose operator the key
    * column declares. A qual value that `inverse` cannot map narrows
    * nothing; Spark re-checks such a qual unless the table claims it. */
  def narrow(quals: Seq[Qual], key: KeyColumn, inverse: Inverse = exactLong): KeyRange = {
    var lo = Long.MinValue
    var hi = Long.MaxValue // exclusive: Long.MaxValue itself is never a row key
    quals.filter(q => q.field == key.name && key.operators.contains(q.op)).foreach { q =>
      inverse(q.value).foreach { case (k, onKey) =>
        // the first key whose value is >= the qual value, and the first
        // whose value is > it; both saturate at Long.MaxValue, which an
        // exclusive bound may hold but no key can
        val atLeast = if (onKey) k else next(k)
        val above = next(k)
        q.op match {
          case "=" => lo = math.max(lo, atLeast); hi = math.min(hi, above)
          case ">=" => lo = math.max(lo, atLeast)
          case ">" => lo = math.max(lo, above)
          case "<" => hi = math.min(hi, atLeast)
          case "<=" => hi = math.min(hi, above)
          case _ =>
        }
      }
    }
    KeyRange(ranges, (in ++ probeKeys(quals, key, inverse)).reduceOption(_ intersect _))
      .within(Seq((lo, hi)))
  }

  /** Every range cut down to its overlap with the union `rs` (e.g. the key
    * ranges a LIKE prefix inverts to). */
  def within(rs: Seq[(Long, Long)]): KeyRange = copy(ranges = for {
    (al, ah) <- ranges; (bl, bh) <- rs
    l = math.max(al, bl); h = math.min(ah, bh) if l < h
  } yield (l, h))

  /** The probe keys that fall in the ranges, ascending. */
  private def probes: Option[Seq[Long]] =
    in.map(_.filter(k => ranges.exists { case (l, h) => k >= l && k < h }))

  def rows: Long = probes.fold(ranges.map { case (l, h) => h - l }.sum)(_.length.toLong)

  /** One split per `pageSize` keys of each range; with probe keys, one
    * split per page that holds a probe. A page with one probe key is the
    * one-key split [k, k + 1), so a point or a list of spread keys reads
    * one key per call; a page with several carries its probe keys, so a
    * probe list never makes more calls than paging and no read returns a
    * key that was not probed. `split` gets the bounds and, for a page of
    * several probes, its probe keys. */
  def splits(pageSize: Long)(split: (Long, Long, Option[Seq[Long]]) => ApiSplit): Seq[ApiSplit] =
    probes match {
      case Some(ks) =>
        // ks ascending: each page's keys stay in key order
        ks.groupBy(k => ranges.collectFirst { case (l, h) if k >= l && k < h =>
          val s = l + (k - l) / pageSize * pageSize
          (s, math.min(s + pageSize, h))
        }.get).toSeq.sortBy(_._1._1).map {
          case (_, Seq(k)) => split(k, k + 1, None)
          case ((s, e), pk) => split(s, e, Some(pk))
        }
      case None => for ((l, h) <- ranges; s <- l until h by pageSize)
        yield split(s, math.min(s + pageSize, h), None)
    }
}

object KeyRange {
  /** Maps a qual value to (k, onKey): the greatest row key whose column
    * value is at most the qual value, and whether the two are equal. None
    * when the value is of a type the key column cannot hold. */
  type Inverse = Any => Option[(Long, Boolean)]

  /** The inverse of a column that holds the row key itself. */
  val exactLong: Inverse = {
    case l: Long => Some((l, true))
    case _ => None
  }

  /** Every key in [0, n). */
  def all(n: Long): KeyRange = KeyRange(Seq((0L, n)))

  /** The keys named by the `=` and IN quals on `key`, intersected,
    * distinct and ascending; None when neither was pushed. An IN qual
    * with a value `inverse` cannot map narrows nothing. */
  def probeKeys(quals: Seq[Qual], key: KeyColumn, inverse: Inverse = exactLong): Option[Seq[Long]] =
    quals.filter(q => q.field == key.name && key.operators.contains(q.op)).flatMap {
      case Qual(_, "=", v) => onKeys(Seq(v), inverse)
      case Qual(_, "in", vs: Seq[_]) => onKeys(vs, inverse)
      case _ => None
    }.reduceOption(_ intersect _).map(_.distinct.sorted)

  private def onKeys(vs: Seq[Any], inverse: Inverse): Option[Seq[Long]] = {
    val ks = vs.map(inverse)
    if (ks.forall(_.isDefined)) Some(ks.flatten.collect { case (k, true) => k }) else None
  }

  private def next(k: Long): Long = if (k == Long.MaxValue) k else k + 1
}

/** Per-column row building, the analog of the reference SDK running only
  * the hydrate calls of the columns SQLite asked for (the `ColUsed`
  * bitmask, table.go:262): a table over a row key gives each column one
  * generator, and a scan evaluates only the generators of `qc.columns` —
  * plus, to check a residual qual, that of the qual's column. */
object RowGen {
  /** A column's value as a pure function of the row key, Catalyst-internal
    * (UTF8String, micros Long, epoch-days Int) like every ApiTable.scan row. */
  type Col = Long => Any

  /** The generators of `columns`, in their order. */
  def select(table: String, gens: Map[String, Col], columns: Seq[String]): Array[Col] =
    columns.map(c => gens.getOrElse(c,
      throw new IllegalArgumentException(s"table '$table' has no column '$c'"))).toArray

  /** The row of key `i`: each selected generator applied to it. */
  def row(cols: Array[Col], i: Long): Array[Any] = {
    val r = new Array[Any](cols.length)
    var j = 0
    while (j < cols.length) { r(j) = cols(j)(i); j += 1 }
    r
  }
}

/** One API page range of a scan: the unit of plugin call (`scan` or
  * `aggregateSplit`), of transient-error retry, of QueryCache key and of
  * ScanLedger count. It is not the unit of Spark scheduling: a Spark task
  * reads a contiguous run of splits, and a scan has at most leaf
  * parallelism of those runs (GraftInputPartition.pack). */
trait ApiSplit extends Serializable

/** A plugin-backed table. Implementations must be Serializable (they are
  * shipped inside InputPartitions to executors) and deterministic. */
trait ApiTable extends Serializable {
  def name: String
  def schema: StructType
  /** Connection-config-dependent schema (reference configure_fn.go:104-125:
    * a reconfigure refetches the schema and drops/recreates the vtables).
    * Tables with static schemas just inherit `schema`. */
  def schemaFor(config: PluginConfig): StructType = schema
  def keyColumns: Seq[KeyColumn] = Nil

  /** Plan the scan: split the (qual-narrowed) key space. Called on the
    * driver; the reference's xBestIndex + pagination planning analog. A
    * table over a key range narrows and pages it with `KeyRange`, the one
    * qual → key-range mapping, so its `=`/`<`/`>` bounds, IN probes and
    * page splits are the same for every plugin. */
  def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit]

  /** Execute one split, yielding rows as Catalyst-internal values
    * (UTF8String for strings, micros Long for timestamps) in qc.columns
    * order — the cursor.Column() mapping of the reference. A split runs in
    * a task on an executor, or on the driver when the whole scan returns at
    * most one page or feeds a global aggregate within the broadcast
    * threshold (graft.plans.DriverScanStrategy). */
  def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]]

  /** Estimated row count AFTER qual narrowing, if the plugin can tell
    * (e.g. a key range inverts to a count). Surfaced to Catalyst via
    * SupportsReportStatistics so a narrowed API scan becomes
    * broadcast-able — without it Spark assumes a connector table is huge
    * and sort-merge-joins a 50-row API page against a 100 TB fact table. */
  def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] = None

  /** True if the plugin enforces this qual EXACTLY (e.g. key-range
    * narrowing), letting Spark drop its residual re-check — which in turn
    * unblocks LIMIT pushdown (a residual Filter node between Limit and the
    * scan stops Spark from pushing the limit). All other quals stay
    * belt-and-braces like the reference's Omit=false (table.go:127). */
  def exactlyHandled(q: Qual): Boolean = false

  /** True iff this table can answer `qc` — including its orderBy, offset
    * and limit — in closed form as ONE ordered split (the sorted-pagination
    * API shape). Spark then removes its own Sort/Limit/Offset entirely: a
    * `ORDER BY key LIMIT k OFFSET o` over a cloud API becomes one page
    * fetch instead of a full pagination + cluster-wide sort. Tables that
    * return true must make splits()/scan() honor the contract exactly. */
  def supportsOrderedPage(qc: QueryContext, config: PluginConfig): Boolean = false

  /** Upper bound (exclusive) of the key space currently available, if the
    * table supports ordered-key streaming (the API-polling shape: each
    * micro-batch reads the key range that appeared since the last one).
    * None ⇒ the table is batch-only. */
  def latestKey(config: PluginConfig): Option[Long] = None

  /** Closed-form PARTIAL aggregate for one split, if the plugin can answer
    * without enumerating rows (the API-count-endpoint shape). Called only
    * when every pushed qual is exactlyHandled (no residual re-check to
    * starve). Return one row with the partial values in `aggs` order;
    * Spark runs the final merge (SUM of counts, MIN of mins, MAX of maxs)
    * across splits. None ⇒ this agg set isn't answerable → Spark falls
    * back to the row scan. */
  def aggregateSplit(split: ApiSplit, qc: QueryContext, config: PluginConfig,
      aggs: Seq[AggSpec]): Option[Array[Any]] = None
}

/** One pushed-down aggregate: fn ∈ {"count_star", "min", "max"} with the
  * target field for min/max — the DSv2 SupportsPushDownAggregates surface
  * reduced to what a paginated API can realistically answer. */
final case class AggSpec(fn: String, field: Option[String]) extends Serializable

/** A connector plugin: a named family of tables (reference: one compiled
  * steampipe plugin per extension, register.go). */
trait Plugin extends Serializable {
  def name: String
  def tables: Seq[ApiTable]
  def table(t: String): ApiTable = tables.find(_.name == t)
    .getOrElse(throw new IllegalArgumentException(
      s"plugin '$name' has no table '$t' (has: ${tables.map(_.name).mkString(", ")})"))
}

/** Per-connection config (reference: connection config JSON/HCL,
  * configure_fn.go). Extend as plugins need. */
final case class PluginConfig(
    n: Long = 10000L,
    pageSize: Long = 2500L,
    extra: Map[String, String] = Map.empty) extends Serializable

/** Global connection registry (reference: pluginServer + pluginAlias
  * globals in module.go/register.go). Session-independent, like the
  * loadable extension's process-global state. */
object PluginRegistry {
  private val plugins = new ConcurrentHashMap[String, Plugin]()
  private val configs = new ConcurrentHashMap[String, PluginConfig]()

  register(SeqPlugin) // built-in demo plugins
  register(MetricsPlugin)
  register(DynPlugin)
  // declared from config only — no table code (reference generator parity).
  // A broken bundled descriptor must degrade to "no 'rest' plugin", not
  // poison every registry lookup with ExceptionInInitializerError.
  try register(DeclaredPlugin.fromResource("/graft/plugins/rest_demo.json"))
  catch {
    case e: Exception =>
      System.err.println(s"[graft] skipping declared plugin rest_demo.json: ${e.getMessage}")
  }

  def register(p: Plugin): Unit = plugins.put(p.name, p)
  def plugin(name: String): Plugin = Option(plugins.get(name))
    .getOrElse(throw new IllegalArgumentException(
      s"no plugin '$name' registered (has: ${names.mkString(", ")})"))
  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    plugins.keySet().asScala.toSeq.sorted
  }
  def config(name: String): PluginConfig =
    Option(configs.get(name)).getOrElse(PluginConfig())
  def setConfig(name: String, c: PluginConfig): Unit = configs.put(name, c)
}

/** TTL result cache, per (table, split, query-context) — the reference's
  * query cache (cache.go; STEAMPIPE_CACHE / STEAMPIPE_CACHE_MAX_TTL env
  * controls ↔ GRAFT_CACHE / GRAFT_CACHE_MAX_TTL, constants.go:7-8).
  * JVM-local: on a cluster each executor caches its own splits, which is
  * exactly the locality you want.
  *
  * Bounded: LRU over a row-count weight budget — a long-lived executor
  * serving many distinct (split, qual, config) keys stays within
  * `maxWeight` rows instead of pinning every split it ever read. An expired
  * entry is never served: a lookup that finds one drops it, and an insert
  * first drops the expired entries at the head of a deadline-ordered index,
  * so they leave before any live entry is evicted, and no insert walks the
  * whole cache under the lock. A single fetch of more than `maxWeight` rows
  * is returned without being cached. */
object QueryCache {
  private final class Entry(val key: String, val deadlineMs: Long, val seq: Long,
      val rows: Vector[Array[Any]])
  /** Row-count budget across all entries (~tens of MB at typical widths). */
  @volatile var maxWeight: Long =
    sys.env.getOrElse("GRAFT_CACHE_MAX_ROWS", "1000000").toLong
  private val cache = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  /** The entries of `cache` by deadline, then by insertion. */
  private val byDeadline = new java.util.TreeSet[Entry](
    java.util.Comparator.comparingLong[Entry](_.deadlineMs).thenComparingLong(_.seq))
  private var weight = 0L
  private var inserted = 0L
  val hits = new AtomicLong(0)
  val misses = new AtomicLong(0)

  /** Removes `e`, which `cache` holds; the caller holds the lock. */
  private def drop(e: Entry): Unit = {
    cache.remove(e.key); byDeadline.remove(e); weight -= e.rows.length
  }

  def getOrFetch(key: String, ttlSeconds: Long)(fetch: => Iterator[Array[Any]]): Iterator[Array[Any]] = {
    val now = System.currentTimeMillis()
    cache.synchronized {
      val e = cache.get(key) // LRU touch
      if (e != null) {
        if (e.deadlineMs > now) { hits.incrementAndGet(); return e.rows.iterator }
        drop(e)
      }
    }
    misses.incrementAndGet()
    val rows = fetch.toVector // fetch outside the lock: slow plugin calls must not serialize
    // an entry larger than the whole budget is served uncached: keeping it
    // would evict every other entry and still leave the cache over budget
    if (rows.length > maxWeight) return rows.iterator
    cache.synchronized {
      val prev = cache.get(key)
      if (prev != null) drop(prev)
      while (!byDeadline.isEmpty && byDeadline.first.deadlineMs <= now) drop(byDeadline.first)
      inserted += 1
      val e = new Entry(key, now + ttlSeconds * 1000, inserted, rows)
      cache.put(key, e); byDeadline.add(e); weight += rows.length
      val lru = cache.values().iterator()
      while (weight > maxWeight && lru.hasNext) {
        val old = lru.next()
        if (old ne e) { lru.remove(); byDeadline.remove(old); weight -= old.rows.length }
      }
    }
    rows.iterator
  }

  /** Content-stable key from the serialized forms of config/split/context —
    * not toString, which for non-case-class user splits degrades to
    * identity hashes (cache misses at best, cross-split collisions at
    * worst). */
  def stableKey(parts: Any*): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    parts.foreach(oos.writeObject)
    oos.close()
    java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("SHA-256").digest(bos.toByteArray))
  }

  def size: Int = cache.synchronized(cache.size)
  def currentWeight: Long = cache.synchronized(weight)
  def clear(): Unit = cache.synchronized {
    cache.clear(); byDeadline.clear(); weight = 0; hits.set(0); misses.set(0)
  }
}

/** A transient plugin failure (rate limit, 5xx, connection reset): the
  * scan layer retries the split instead of failing the Spark task — the
  * reference SDK's RetryConfig/backoff analog, applied at the natural
  * retry unit (one split = one API page stream). Anything else propagates
  * and fails the task (which Spark then retries at task granularity). */
class TransientApiError(msg: String) extends RuntimeException(msg)

/** Test/observability ledger: records what actually reached the plugin
  * (the spec-level proof that pushdown works, not just that results match). */
object ScanLedger {
  val scans = new AtomicLong(0)
  val retries = new AtomicLong(0)
  @volatile var lastQc: Option[QueryContext] = None
  @volatile var lastSplitCount: Int = -1
  def record(qc: QueryContext): Unit = { scans.incrementAndGet(); lastQc = Some(qc) }
  def reset(): Unit = {
    scans.set(0); retries.set(0); lastQc = None; lastSplitCount = -1
    FlakyTable.resetAttempts()
  }
}
