package graft

import graft.sources.api._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Per-column row building: every built-in table's `scan` must return the
  * rows the full-row build followed by a projection to `qc.columns` gave.
  * The reference rows below are that full-row build, kept here as the
  * oracle (with boolean quals compared as false < true, as Spark does);
  * the tables themselves build only the columns a query reads. */
class RowGenSpec extends AnyFunSuite {

  private def rows(it: Iterator[Array[Any]]): List[List[Any]] = it.map(_.toList).toList
  private def u(s: String): UTF8String = UTF8String.fromString(s)

  /** The column subsets and orders each table is checked with. */
  private def subsets(names: Seq[String]): Seq[Seq[String]] =
    Seq(Nil, names.take(1), names.reverse, names, names.drop(1).take(2).reverse)

  // ---- seq.numbers: full row, residual quals, desc pages and limit ----

  private val baseTs = 1704067200000000L
  private val numbersCols = NumbersTable.schema.fieldNames.toSeq

  private def numbersRow(i: Long): Array[Any] = Array[Any](
    i, (i * 7) % 97, u(s"row_$i"), i % 2 == 0, i / 100.0, baseTs + i * 60000000L,
    u(s"""{"k":${i % 10}}"""), u(s"10.${(i / 65536) % 256}.${(i / 256) % 256}.${i % 256}"),
    u(s"192.168.${i % 256}.0/24"), u(s"root.n${i % 10}.leaf"))

  private def cmp(c: Int, op: String): Boolean = op match {
    case "=" => c == 0
    case ">" => c > 0
    case ">=" => c >= 0
    case "<" => c < 0
    case "<=" => c <= 0
    case _ => true
  }
  private def satisfies(r: Array[Any], q: Qual): Boolean =
    (r(numbersCols.indexOf(q.field)), q.value) match {
      case (a: Long, b: Long) => cmp(java.lang.Long.compare(a, b), q.op)
      case (a: Double, b: Double) => cmp(java.lang.Double.compare(a, b), q.op)
      case (a: Boolean, b: Boolean) => cmp(java.lang.Boolean.compare(a, b), q.op)
      case (a: UTF8String, b) => cmp(a.toString.compareTo(b.toString), q.op)
      case _ => true
    }

  private def numbersOracle(split: RangeSplit, qc: QueryContext): List[List[Any]] = {
    val residual = qc.quals.filterNot(_.field == "id")
    val keys = split.probes.getOrElse(
      if (split.desc) (split.end - 1 to split.start by -1) else (split.start until split.end))
    keys.iterator.map(numbersRow).filter(r => residual.forall(satisfies(r, _)))
      .take(qc.limit.fold(Int.MaxValue)(_.toInt))
      .map(r => qc.columns.map(c => r(numbersCols.indexOf(c))).toList).toList
  }

  test("seq.numbers builds the same rows from the requested columns alone") {
    val quals = Seq(
      Nil,
      Seq(Qual("flag", "=", true)),
      Seq(Qual("flag", ">", false)),
      Seq(Qual("x", "<", 40L)),
      Seq(Qual("x", ">=", 50L), Qual("flag", "=", false)),
      Seq(Qual("ratio", ">", 3.5), Qual("s", "<", "row_3")),
      Seq(Qual("ts", ">=", baseTs + 200 * 60000000L), Qual("id", "<", 400L)),
      Seq(Qual("s", "starts_with", "row_1"), Qual("j", "=", """{"k":3}""")))
    val splits = Seq(RangeSplit(0, 500), RangeSplit(100, 400, desc = true), RangeSplit(777, 778),
      RangeSplit(0, 500, probes = Some(Seq(3L, 250L, 251L, 499L))))
    val config = PluginConfig()
    val wrong = for {
      cols <- subsets(numbersCols) :+ Seq("id") :+ Seq("path", "s", "ts")
      qs <- quals
      limit <- Seq(None, Some(7L))
      split <- splits
      qc = QueryContext(cols, qs, limit)
      got = rows(NumbersTable.scan(split, qc, config))
      if got != numbersOracle(split, qc)
    } yield s"$split $qc"
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // a residual qual on a column the query does not read still filters
    val qc = QueryContext(Seq("id"), Seq(Qual("flag", "=", true), Qual("x", "<", 40L)), None)
    assert(rows(NumbersTable.scan(RangeSplit(0, 200), qc, config)) ==
      (0L until 200L).filter(i => i % 2 == 0 && (i * 7) % 97 < 40).map(List(_)).toList)
  }

  test("seq.flaky keeps its one failure per split and builds the same rows") {
    val config = PluginConfig(extra = Map("spec" -> "rowgen"))
    for (cols <- subsets(Seq("id", "x")); split = RangeSplit(2500, 2600)) {
      val qc = QueryContext(cols, Seq(Qual("x", "<", 50L)), None)
      intercept[TransientApiError](FlakyTable.scan(split, qc, config))
      val want = (2500L until 2600L).map { i =>
        val full = Map[String, Any]("id" -> i, "x" -> (i * 13) % 101)
        cols.map(full).toList
      }.toList
      assert(rows(FlakyTable.scan(split, qc, config)) == want, s"$cols")
    }
  }

  test("seq.kv, metrics.series and dyn.wide build the same rows") {
    for (cols <- subsets(Seq("k", "val", "k2")); k <- Seq(0L, 42L, 3037000499L)) {
      val full = Map[String, Any]("k" -> k, "val" -> u(s"v$k"), "k2" -> k * k)
      assert(rows(KvTable.scan(KvTable.KeySplit(k), QueryContext(cols, Nil, None), PluginConfig())) ==
        List(cols.map(full).toList), s"kv $k $cols")
    }
    for (cols <- subsets(Seq("series_id", "t", "value", "tag")); limit <- Seq(None, Some(3L))) {
      val sid = 5L
      val want = (10L until 30L).take(limit.fold(Int.MaxValue)(_.toInt)).map { t =>
        val full = Map[String, Any]("series_id" -> sid, "t" -> t,
          "value" -> ((t * t * 31 + sid * 17) % 1000) / 10.0, "tag" -> u(s"s$sid"))
        cols.map(full).toList
      }.toList
      val qc = QueryContext(cols, Seq(Qual("series_id", "=", sid)), limit)
      assert(rows(SeriesTable.scan(SeriesTable.SeriesSplit(sid, 10, 30), qc, PluginConfig())) ==
        want, s"series $cols $limit")
    }
    val config = PluginConfig(extra = Map("cols" -> "a, b,c"))
    val names = Seq("a", "b", "c")
    for (cols <- subsets("id" +: names)) {
      val want = (40L until 60L).map(i =>
        cols.map { case "id" => i; case c => i * (names.indexOf(c) + 2L) }.toList).toList
      assert(rows(WideTable.scan(RangeSplit(40, 60), QueryContext(cols, Nil, None), config)) ==
        want, s"wide $cols")
    }
  }

  test("declared tables build the same rows, and return only the probe keys of a probe page") {
    for (t <- PluginRegistry.plugin("rest").tables.map(_.asInstanceOf[DeclaredTable])) {
      def gen(c: String) = t.spec.columns.find(_.name == c).get.gen
      for (cols <- subsets(t.spec.columns.map(_.name))) {
        val want = (5L until 25L).map(i => cols.map(gen(_).eval(i)).toList).toList
        assert(rows(t.scan(RangeSplit(5, 25), QueryContext(cols, Nil, None), PluginConfig())) ==
          want, s"${t.name} $cols")
      }
      // a page of a long probe list: the read returns its probe keys only
      val key = t.spec.keyColumn
      val probes = Seq(6L, 9L, 20L)
      assert(rows(t.scan(RangeSplit(0, 25, probes = Some(probes)),
        QueryContext(Seq(key), Nil, None), PluginConfig())) ==
        probes.map(k => List(gen(key).eval(k))).toList, t.name)
    }
  }

  test("no connector scan builds a Map[String, Any] per row") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("src/main/scala/graft/sources/api")
    assert(java.nio.file.Files.isDirectory(dir), s"run from the checkout root: $dir")
    val walk = java.nio.file.Files.walk(dir)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.collect {
          case l if l.contains("Map[String, Any]") => s"${dir.relativize(f)}: ${l.trim}"
        }
      }
      finally walk.close()
    assert(hits.isEmpty, s"a per-row Map build in a scan:\n${hits.mkString("\n")}")
  }
}
