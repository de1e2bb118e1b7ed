package graft.sources.api

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Built-in demo plugin: a deterministic functional "API" (every row is a
  * pure function of its key), so DuckDB oracles can reproduce the data via
  * range(). Mirrors the reference's plugin surface: a paginated list table
  * (`numbers`, key-range pushdown) and a required-key get table (`kv`,
  * reference table.go:180-215 required key columns).
  *
  * Exercises the full reference type surface (mapping.go:66-84): BOOL, INT,
  * DOUBLE, STRING, TIMESTAMP (NTZ micros), JSON, IPADDR, CIDR, LTREE. */
object SeqPlugin extends Plugin {
  override def name: String = "seq"
  override def tables: Seq[ApiTable] = Seq(NumbersTable, KvTable, FlakyTable)
}

/** A table whose first scan attempt of every (split, query) FAILS with a
  * transient error — the rate-limited/5xx API every production connector
  * meets. Proves the scan layer's split-granularity retry: results stay
  * complete and deterministic, failures visible only in ScanLedger.retries. */
object FlakyTable extends ApiTable {
  override def name: String = "flaky"
  override def schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", LongType, nullable = false)))

  private val attempts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Re-arm the one-failure-per-split simulation. Called from
    * ScanLedger.reset() so each spec/bench run observes the same retry
    * count — otherwise a key fails only once per JVM and a second
    * identical scan exercises no retries. */
  def resetAttempts(): Unit = attempts.clear()

  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    Some(config.n)

  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] =
    (0L until config.n by config.pageSize)
      .map(s => RangeSplit(s, math.min(s + config.pageSize, config.n)))

  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    val RangeSplit(lo, hi, _, _) = split: @unchecked
    val key = s"$lo-$hi/${qc.columns.mkString(",")}/${qc.quals.mkString(",")}"
    if (attempts.putIfAbsent(key, java.lang.Boolean.TRUE) == null)
      throw new TransientApiError(s"simulated rate limit on split [$lo, $hi)")
    val cols = RowGen.select(name, gens, qc.columns)
    Iterator.range(lo, hi).map(RowGen.row(cols, _))
  }

  private val gens: Map[String, RowGen.Col] = Map(
    "id" -> (i => i),
    "x" -> (i => (i * 13) % 101))
}

/** A page [start, end) of a key-range table, read in descending key
  * order when `desc` (an ordered page). `probes`, when set, are the only
  * keys of the page a read returns: a page of a long probe list (see
  * `KeyRange.splits`). */
final case class RangeSplit(start: Long, end: Long, desc: Boolean = false,
    probes: Option[Seq[Long]] = None) extends ApiSplit {
  /** The row keys a read of this split returns, in read order. */
  def keys: Iterator[Long] = probes match {
    case Some(ks) => if (desc) ks.reverseIterator else ks.iterator
    case None => if (desc) Iterator.range(end - 1, start - 1, -1L) else Iterator.range(start, end)
  }
}

object NumbersTable extends ApiTable {
  override def name: String = "numbers"
  /** epoch micros of 2024-01-01T00:00:00Z */
  private val baseTs = 1704067200000000L

  override def schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),        // INT
    StructField("x", LongType, nullable = false),         // INT (derived)
    StructField("s", StringType, nullable = false),       // STRING
    StructField("flag", BooleanType, nullable = false),   // BOOL
    StructField("ratio", DoubleType, nullable = false),   // DOUBLE
    StructField("ts", TimestampNTZType, nullable = false),// TIMESTAMP
    StructField("j", StringType, nullable = false),       // JSON
    StructField("ip", StringType, nullable = false),      // IPADDR
    StructField("cidr", StringType, nullable = false),    // CIDR
    StructField("path", StringType, nullable = false)))   // LTREE

  private val idKey = KeyColumn("id", required = false, operators = KeyColumn.comparisons :+ "in")
  private val tsKey = KeyColumn("ts", required = false, operators = KeyColumn.comparisons)
  override def keyColumns: Seq[KeyColumn] = Seq(idKey, tsKey)

  /** id and ts quals are enforced exactly by key narrowing in splits():
    * range quals shrink [lo, hi), IN lists become probe splits, one per
    * page that holds a probe (the SQLite `=`-probe decomposition, reference
    * table.go:127-151, batched by page), and
    * ts quals convert to id bounds through the exact minute-grid inverse. */
  override def exactlyHandled(q: Qual): Boolean = q.field match {
    case "id" =>
      (KeyColumn.comparisons.contains(q.op) && q.value.isInstanceOf[Long]) ||
        (q.op == "in" && (q.value match {
          case vs: Seq[_] => vs.forall(_.isInstanceOf[Long])
          case _ => false
        }))
    case "ts" => Seq(">", ">=", "<", "<=").contains(q.op) && q.value.isInstanceOf[Long]
    // s = 'row_<id>' embeds the key, so any LIKE-prefix inverts to EXACT
    // key ranges (empty, full, or one range per decimal magnitude)
    case "s" => q.op == "starts_with" && q.value.isInstanceOf[String]
    case _ => false
  }

  /** Key ranges whose rows' `s` column starts with `p`: ids have no
    * leading zeros, so a digit prefix d matches [d·10^k, (d+1)·10^k) for
    * every magnitude k (d = 0 matches only id 0). */
  private def prefixRanges(p: String, n: Long): Seq[(Long, Long)] = {
    val base = "row_"
    if (p.length <= base.length) {
      if (base.startsWith(p)) Seq((0L, n)) else Seq.empty
    } else if (!p.startsWith(base)) Seq.empty
    else {
      val rest = p.substring(base.length)
      if (!rest.forall(_.isDigit)) Seq.empty
      else if (rest == "0") Seq((0L, 1L))
      else if (rest.head == '0') Seq.empty
      else {
        val d = rest.toLong
        Iterator.iterate(1L)(_ * 10)
          .takeWhile(m => m <= n && d <= n / m)
          .map(m => (d * m, math.min(Math.addExact(d, 1) * m, n)))
          .filter { case (l, h) => l < h }
          .toSeq
      }
    }
  }

  private val tickUs = 60000000L // one row per minute

  /** ts sits on an exact minute grid (ts = baseTs + id * tickUs, baseTs
    * itself on the grid), so a timestamp inverts to an id without rounding
    * error — and without the overflow of subtracting baseTs first. */
  private val minuteGrid: KeyRange.Inverse = {
    case v: Long =>
      Some((Math.floorDiv(v, tickUs) - baseTs / tickUs, Math.floorMod(v, tickUs) == 0))
    case _ => None
  }

  /** The key space after the pushed id, ts and LIKE-prefix quals (the
    * reference's xBestIndex cost model made key-column quals cheap for the
    * same reason: they shrink what the plugin must fetch). */
  private def narrowed(qc: QueryContext, config: PluginConfig): KeyRange =
    qc.quals.collect { case Qual("s", "starts_with", p: String) => prefixRanges(p, config.n) }
      .foldLeft(KeyRange.all(config.n).narrow(qc.quals, idKey)
        .narrow(qc.quals, tsKey, minuteGrid))(_ within _)

  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    Some(narrowed(qc, config).rows)

  /** Page the narrowed key space, or split its IN probes by page — the
    * probes respect any pushed LIKE prefix too: exactlyHandled drops
    * Spark's residual LIKE, so `id IN (...) AND s LIKE 'row_p%'` must not
    * leak non-matches. */
  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] = {
    val kr = narrowed(qc, config)
    if (qc.orderBy.nonEmpty) {
      // accepted ordered page (supportsOrderedPage): both sortable columns
      // (id, ts) are monotone in the key, so ORDER BY + OFFSET + LIMIT is
      // a closed-form key slice — ONE split, already in order. With no IN
      // or prefix qual the key space is one range, or none.
      val desc = qc.orderBy.head.descending
      kr.ranges.headOption.toSeq.flatMap { case (lo, hi) =>
        val (lo2, hi2) =
          if (desc) {
            val h = hi - qc.offset
            (qc.limit.fold(lo)(l => math.max(lo, h - l)), math.max(lo, h))
          } else {
            val l2 = lo + qc.offset
            (math.min(l2, hi), qc.limit.fold(hi)(l => math.min(hi, l2 + l)))
          }
        if (lo2 >= hi2) Seq.empty else Seq(RangeSplit(lo2, hi2, desc))
      }
    } else kr.splits(config.pageSize)(RangeSplit(_, _, desc = false, _))
  }

  /** ORDER BY id|ts [DESC] LIMIT/OFFSET is answerable in closed form: both
    * columns are strictly monotone in the key, every supported qual is
    * exact key narrowing, and the page is one contiguous slice. IN probes
    * are excluded (they fan into per-value splits, breaking the one-split
    * ordering contract). */
  override def supportsOrderedPage(qc: QueryContext, config: PluginConfig): Boolean =
    qc.orderBy.length == 1 && Seq("id", "ts").contains(qc.orderBy.head.field) &&
      qc.quals.forall(exactlyHandled) &&
      !qc.quals.exists(q => q.op == "in" || q.op == "starts_with")

  override def latestKey(config: PluginConfig): Option[Long] = Some(config.n)

  /** Closed-form partial aggregates over a key-range split — the API
    * analog of a count endpoint: id is the key itself and ts sits on the
    * exact minute grid, so COUNT/MIN/MAX need no row enumeration at all.
    * A page of a long probe list counts only its probe keys, of which it
    * holds at least one. */
  override def aggregateSplit(split: ApiSplit, qc: QueryContext,
      config: PluginConfig, aggs: Seq[AggSpec]): Option[Array[Any]] = {
    val RangeSplit(lo, hi, _, probes) = split: @unchecked
    val (rows, first, last) =
      probes.fold((hi - lo, lo, hi - 1))(ks => (ks.length.toLong, ks.head, ks.last))
    val vals = aggs.map {
      case AggSpec("count_star", _) => Some(rows)
      case AggSpec("min", Some("id")) => Some(first)
      case AggSpec("max", Some("id")) => Some(last)
      case AggSpec("min", Some("ts")) => Some(baseTs + first * tickUs)
      case AggSpec("max", Some("ts")) => Some(baseTs + last * tickUs)
      case _ => None
    }
    if (vals.exists(_.isEmpty)) None
    else Some(vals.flatten.map(_.asInstanceOf[Any]).toArray)
  }

  /** Builds only the requested columns. id quals are enforced by the
    * split's keys; every other qual is checked on its own column's value,
    * so a qual on a column the query does not read costs one generator
    * call, not a full row. */
  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    val checks = qc.quals.filterNot(_.field == "id").map(check).toArray
    val cols = RowGen.select(name, gens, qc.columns)
    val limit = qc.limit.getOrElse(Long.MaxValue)
    split.asInstanceOf[RangeSplit].keys.filter(i => checks.forall(_(i)))
      .take(if (limit > Int.MaxValue) Int.MaxValue else limit.toInt)
      .map(RowGen.row(cols, _))
  }

  /** The column generators — the "API response" for one key. */
  private val gens: Map[String, RowGen.Col] = Map(
    "id" -> (i => i),
    "x" -> (i => (i * 7) % 97),
    "s" -> (i => UTF8String.fromString(s"row_$i")),
    "flag" -> (i => i % 2 == 0),
    "ratio" -> (i => i / 100.0),
    "ts" -> (i => baseTs + i * tickUs),
    "j" -> (i => UTF8String.fromString(s"""{"k":${i % 10}}""")),
    "ip" -> (i => UTF8String.fromString(s"10.${(i / 65536) % 256}.${(i / 256) % 256}.${i % 256}")),
    "cidr" -> (i => UTF8String.fromString(s"192.168.${i % 256}.0/24")),
    "path" -> (i => UTF8String.fromString(s"root.n${i % 10}.leaf")))

  /** A residual qual as a test on the row key, through its column's
    * generator alone. */
  private def check(q: Qual): Long => Boolean = gens.get(q.field) match {
    case Some(g) => i => satisfies(g(i), q)
    case None => _ => true
  }

  private def satisfies(v: Any, q: Qual): Boolean =
    (v, q.value) match {
      case (a: Long, b: Long) => cmp(java.lang.Long.compare(a, b), q.op)
      case (a: Double, b: Double) => cmp(java.lang.Double.compare(a, b), q.op)
      case (a: Boolean, b: Boolean) => cmp(java.lang.Boolean.compare(a, b), q.op)
      case (a: UTF8String, b) => cmp(a.toString.compareTo(b.toString), q.op)
      case _ => true // unknown comparison: let Spark's residual filter decide
    }
  private def cmp(c: Int, op: String): Boolean = op match {
    case "=" => c == 0
    case ">" => c > 0
    case ">=" => c >= 0
    case "<" => c < 0
    case "<=" => c <= 0
    case _ => true
  }
}

/** A "get" table: the required key column MUST be constrained, like an API
  * that can only GET by id (reference table.go:allRequiredKeyColsInConstraints). */
object KvTable extends ApiTable {
  override def name: String = "kv"
  override def schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("val", StringType, nullable = false),
    StructField("k2", LongType, nullable = false)))
  override def keyColumns: Seq[KeyColumn] =
    Seq(KeyColumn("k", required = true, operators = Seq("=", "in")))

  final case class KeySplit(k: Long) extends ApiSplit

  /** `k = v` and `k IN (...)` both satisfy the required key: the keys
    * they name (intersected, when several are pushed) become one GET split
    * each, the API analog of SQLite's `=`-probe decomposition (reference
    * table.go:127-151). */
  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] =
    KeyRange.probeKeys(qc.quals, keyColumns.head).getOrElse(Nil).map(KeySplit)

  /** One row per GET key. */
  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    Some(splits(qc, config).length.toLong)

  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    val KeySplit(k) = split: @unchecked
    Iterator.single(RowGen.row(RowGen.select(name, gens, qc.columns), k))
  }

  private val gens: Map[String, RowGen.Col] = Map(
    "k" -> (k => k),
    "val" -> (k => UTF8String.fromString(s"v$k")),
    "k2" -> (k => k * k))
}
