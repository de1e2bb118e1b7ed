package graftbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.util.hashing.MurmurHash3

import org.apache.commons.math3.distribution.ZipfDistribution
import org.apache.commons.math3.random.Well19937c
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.api.GraftConfigure

/** One operation of a workload. The loop times `build` as operators.build
  * and collecting the DataFrame it returns as operators.action; `check` runs
  * afterwards, untimed. */
abstract class Op {
  /** Query class or entry family, for per-class reporting. */
  def kind: String
  /** The query variant, or the entry itself, in per-operation records. */
  def cls: String
  /** What the operation does: its SQL, entry name or config text. */
  def label: String
  /** The query to run, or None for an operation that is not a query. */
  def build(s: SparkSession): Option[DataFrame]
  /** None when the collected rows are right, else why they are not. */
  def check(rows: Array[Row]): Option[String]
}

/** Canonical text of result values and an order-insensitive digest over
  * rows. Doubles keep 9 significant digits, so a last-ulp difference in a
  * floating sum does not count as a wrong answer; timestamps are written in
  * UTC so the digest does not depend on the JVM time zone. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => if (f == 0.0f) "0" else String.format(Locale.ROOT, "%.6g", Double.box(f.toDouble))
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Sum of 64-bit row hashes (wrapping), so row order does not matter. */
  def digest(rows: Array[Row]): String = f"${rows.iterator.map(rowHash).sum}%016x"
}

/** Expected output of one entry: its row count and, unless the entry is
  * rows-only, its digest. */
final case class Expected(rows: Long, digest: Option[String])

/** A SparkEntry entry run as one operation: rows are checked by count plus
  * digest against the values recorded at the reference commit. */
final class EntryOp(name: String, fn: (SparkSession, String) => DataFrame, dir: String,
    want: Expected) extends Op {
  def kind: String = name.takeWhile(_ != '_')
  def cls: String = name
  def label: String = name
  def build(s: SparkSession): Option[DataFrame] = Some(fn(s, dir))
  def check(rows: Array[Row]): Option[String] =
    if (rows.length != want.rows) Some(s"rows ${rows.length} != expected ${want.rows}")
    else want.digest.filter(_ != Digest.digest(rows)).map(d => s"digest mismatch (expected $d)")
}

/** The `seq.numbers` row formula (the plugin's documented "API response"),
  * restated here so expected answers never go through the scan path. */
object Numbers {
  val base: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def x(i: Long): Long = (i * 7) % 97
  def s(i: Long): String = s"row_$i"
  def flag(i: Long): Boolean = i % 2 == 0
  def ts(i: Long): LocalDateTime = base.plusMinutes(i)
  def tsLit(i: Long): String = s"TIMESTAMP_NTZ '${ts(i).format(tsFmt)}'"
  def flakyX(i: Long): Long = (i * 13) % 101
}

/** A SQL query over the connector with its answer computed independently. */
final class VtabQuery(val cls: String, val label: String, ordered: Boolean,
    want: () => Seq[Seq[Any]]) extends Op {
  def kind: String = cls.takeWhile(_ != '.')
  def build(s: SparkSession): Option[DataFrame] = Some(s.sql(label))
  def check(rows: Array[Row]): Option[String] = {
    val got = rows.toSeq.map(r => Digest.canon(r.toSeq))
    val exp = want().map(Digest.canon)
    val (g, e) = if (ordered) (got, exp) else (got.sorted, exp.sorted)
    if (g == e) None
    else Some(s"got ${g.take(3).mkString(" ")}${if (g.size > 3) " ..." else ""} (${g.size} rows), " +
      s"expected ${e.take(3).mkString(" ")}${if (e.size > 3) " ..." else ""} (${e.size} rows)")
  }
}

/** A connection-config write: sets a new value of an extra key, which is
  * part of every cache key, so later reads miss the cache. */
final class ConfigWrite(n: Long) extends Op {
  private var writes = 0L
  @volatile private var applied: Option[(String, graft.sources.api.PluginConfig)] = None
  def kind: String = "config_write"
  def cls: String = kind
  def label: String = """configure seq {"tag": "w<k>"} (k counts the writes)"""
  def build(s: SparkSession): Option[DataFrame] = {
    val tag = s"w$writes"
    writes += 1
    applied = Some(tag -> Timed.configure(s, "seq", s"""{"tag": "$tag"}"""))
    None
  }
  def check(rows: Array[Row]): Option[String] = applied match {
    case Some((tag, c)) if c.n == n && c.extra.get("tag").contains(tag) => None
    case other => Some(s"config after write: $other")
  }
}

/** Time spent in GraftConfigure.configure, read by the traced run. */
object Timed {
  @volatile var configureMs: Double = 0.0
  def configure(s: SparkSession, alias: String, json: String): graft.sources.api.PluginConfig = {
    val t0 = System.nanoTime()
    try GraftConfigure.configure(s, alias, json)
    finally configureMs += (System.nanoTime() - t0) / 1e6
  }
}

/** The `vtab_interactive` pass: 100 short SQL queries in a fixed mix and
  * order; the seed draws their keys and ranges. Keys come from a Zipf(1.1)
  * rank spread over the key space by a fixed bijection, so hot keys repeat
  * but are not adjacent. */
final class VtabStream(seed: Long, n: Long,
    suppliers: Seq[(Any, Any, Int)], nations: Seq[(Int, Any, Int)]) {
  private val rng = new java.util.Random(seed)
  private val zipf = new ZipfDistribution(new Well19937c(seed), n.toInt, 1.1)
  private def hotKey(): Long = ((zipf.sample() - 1).toLong * 1000003L) % n
  private def uni(lo: Long, hi: Long): Long = lo + (rng.nextDouble() * (hi - lo)).toLong

  private val T = "graft.seq.numbers"

  private def rangeRows(a: Long, b: Long): Seq[Seq[Any]] = {
    var sx = 0L; var ms = ""; var i = a
    while (i < b) { sx += Numbers.x(i); val si = Numbers.s(i); if (si > ms) ms = si; i += 1 }
    Seq(Seq(b - a, sx, ms))
  }

  private def point(): Op = {
    val k = hotKey()
    new VtabQuery("point", s"SELECT id, x, s, flag FROM $T WHERE id = $k", false,
      () => Seq(Seq(k, Numbers.x(k), Numbers.s(k), Numbers.flag(k))))
  }
  private def inGet(kv: Boolean): Op = {
    val ks = Seq.fill(10)(hotKey())
    val list = ks.mkString(", ")
    if (kv) new VtabQuery("in_get.kv", s"SELECT k, val, k2 FROM graft.seq.kv WHERE k IN ($list)", false,
      () => ks.distinct.map(k => Seq(k, s"v$k", k * k)))
    else new VtabQuery("in_get.numbers", s"SELECT id, x, s FROM $T WHERE id IN ($list)", false,
      () => ks.distinct.map(k => Seq(k, Numbers.x(k), Numbers.s(k))))
  }
  private def rangeAgg(onTs: Boolean): Op = {
    val w = 20000L; val a = uni(0, n - w); val b = a + w
    val where = if (onTs) s"ts >= ${Numbers.tsLit(a)} AND ts < ${Numbers.tsLit(b)}"
      else s"id >= $a AND id < $b"
    new VtabQuery(if (onTs) "range_agg.ts" else "range_agg.id", s"SELECT count(*) AS c, sum(x) AS sx, max(s) AS ms FROM $T WHERE $where",
      false, () => rangeRows(a, b))
  }
  private def page(desc: Boolean): Op = {
    val l = 50L; val o = 100L
    if (desc) {
      val b = uni(1000, n)
      new VtabQuery("page.desc", s"SELECT id, s FROM $T WHERE id < $b ORDER BY id DESC LIMIT $l OFFSET $o",
        true, () => ((b - 1 - o) until math.max(b - o - l, 0L) - 1 by -1).map(i => Seq(i, Numbers.s(i))))
    } else {
      val a = uni(0, n - 1000)
      new VtabQuery("page.asc", s"SELECT id, s FROM $T WHERE id >= $a ORDER BY id LIMIT $l OFFSET $o",
        true, () => ((a + o) until math.min(a + o + l, n)).map(i => Seq(i, Numbers.s(i))))
    }
  }
  private def aggPushdown(): Op = {
    val w = n / 2; val a = uni(0, n - w); val b = a + w
    new VtabQuery("agg_pushdown",
      s"SELECT count(*) AS c, min(id) AS lo, max(id) AS hi FROM $T WHERE id >= $a AND id < $b",
      false, () => Seq(Seq(w, a, b - 1)))
  }
  private def join(byRegion: Boolean): Op =
    if (byRegion) {
      val r = rng.nextInt(5)
      new VtabQuery("join.region",
        s"""SELECT n.n_name, count(*) AS c, sum(nu.x) AS sx FROM bench_nation n
           |JOIN bench_supplier s ON s.s_nationkey = n.n_nationkey
           |JOIN $T nu ON nu.id = s.s_suppkey
           |WHERE n.n_regionkey = $r GROUP BY n.n_name""".stripMargin.replace('\n', ' '), false,
        () => nations.filter(_._3 == r).flatMap { case (nk, name, _) =>
          val ss = suppliers.filter(_._3 == nk).map(_._1.toString.toLong)
          if (ss.isEmpty) None else Some(Seq(name, ss.size.toLong, ss.map(Numbers.x).sum))
        })
    } else {
      val nk = rng.nextInt(25)
      new VtabQuery("join.nation",
        s"""SELECT s.s_suppkey, s.s_name, nu.x, nu.s FROM bench_supplier s
           |JOIN $T nu ON nu.id = s.s_suppkey WHERE s.s_nationkey = $nk""".stripMargin.replace('\n', ' '),
        false, () => suppliers.filter(_._3 == nk).map { case (k, name, _) =>
          val i = k.toString.toLong
          Seq(k, name, Numbers.x(i), Numbers.s(i))
        })
    }
  private def fullScan(withFlag: Boolean): Op = {
    val v = rng.nextInt(97).toLong
    val (where, keep) =
      if (withFlag) (s"x < $v AND NOT flag", (i: Long) => Numbers.x(i) < v && !Numbers.flag(i))
      else (s"x = $v", (i: Long) => Numbers.x(i) == v)
    new VtabQuery(if (withFlag) "full_scan.flag" else "full_scan.eq", s"SELECT count(*) AS c, sum(id) AS si FROM $T WHERE $where", false, () => {
      var c = 0L; var si = 0L; var i = 0L
      while (i < n) { if (keep(i)) { c += 1; si += i }; i += 1 }
      Seq(Seq(c, if (c == 0) null else si))
    })
  }
  private def flaky(): Op = {
    val v = rng.nextInt(101).toLong
    new VtabQuery("flaky", s"SELECT count(*) AS c, sum(x) AS sx FROM graft.seq.flaky WHERE x < $v",
      false, () => {
        var c = 0L; var sx = 0L; var i = 0L
        while (i < n) { val x = Numbers.flakyX(i); if (x < v) { c += 1; sx += x }; i += 1 }
        Seq(Seq(c, if (c == 0) null else sx))
      })
  }
  /** Variants and their counts per 100 operations (the class shares). */
  private val mix: Seq[(Int, () => Op)] = Seq(
    45 -> (() => point()),
    8 -> (() => inGet(kv = true)), 7 -> (() => inGet(kv = false)),
    8 -> (() => rangeAgg(onTs = false)), 7 -> (() => rangeAgg(onTs = true)),
    4 -> (() => page(desc = false)), 4 -> (() => page(desc = true)),
    5 -> (() => aggPushdown()),
    3 -> (() => join(byRegion = false)), 2 -> (() => join(byRegion = true)),
    3 -> (() => fullScan(withFlag = false)), 2 -> (() => fullScan(withFlag = true)),
    1 -> (() => flaky()),
    1 -> (() => new ConfigWrite(n)))

  /** One pass: the variants in a fixed order that does not depend on the
    * seed, so every run issues the same sequence of query shapes and only
    * the keys and ranges change with the seed. The k-th (k >= 1) of a
    * variant's N operations sits at position (k + 1/2) / N of the pass and
    * the first ones are spread over its first fifth, so every stretch from
    * the start holds each variant at about its share and a run that covers
    * a fifth of a pass has seen every variant. */
  val pass: IndexedSeq[Op] = {
    val slots = mix.zipWithIndex.flatMap { case ((count, _), v) =>
      (0 until count).map { k =>
        val key = if (k == 0) 0.2 * (v + 0.5) / mix.size else (k + 0.5) / count
        (key, v)
      }
    }.sorted
    slots.map { case (_, v) => mix(v)._2() }.toIndexedSeq
  }
}
