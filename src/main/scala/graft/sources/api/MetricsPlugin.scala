package graft.sources.api

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Second demo plugin: a time-series "API" requiring a series_id key
  * (like a metrics backend that can only be queried per series) with
  * range-pushdown on t. Proves the registry/catalog host multiple plugins
  * side by side (the reference builds one extension per plugin;
  * register.go). Values are integer polynomials so DuckDB oracles are
  * exact. */
object MetricsPlugin extends Plugin {
  override def name: String = "metrics"
  override def tables: Seq[ApiTable] = Seq(SeriesTable)
}

object SeriesTable extends ApiTable {
  override def name: String = "series"
  override def schema: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  private val tKey = KeyColumn("t", required = false, operators = KeyColumn.comparisons)
  override def keyColumns: Seq[KeyColumn] =
    Seq(KeyColumn("series_id", required = true, operators = Seq("=")), tKey)

  final case class SeriesSplit(sid: Long, start: Long, end: Long) extends ApiSplit

  /** t ranges are exactly enforced by split narrowing; series_id only for
    * `=` — splits() ignores series_id ranges, so claiming them exact would
    * make Spark drop a residual re-check the plugin never performs. */
  override def exactlyHandled(q: Qual): Boolean = q.value.isInstanceOf[Long] && (
    (q.field == "t" && tKey.operators.contains(q.op)) ||
      (q.field == "series_id" && q.op == "="))

  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    Some(splits(qc, config).map { case SeriesSplit(_, lo, hi) => hi - lo }.sum)

  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] = {
    val sid = qc.quals.collectFirst { case Qual("series_id", "=", v: Long) => v }
      .getOrElse(return Nil)
    // t takes no IN, so no split is a page of probe keys
    KeyRange.all(config.n).narrow(qc.quals, tKey)
      .splits(config.pageSize)((lo, hi, _) => SeriesSplit(sid, lo, hi))
  }

  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    val SeriesSplit(sid, lo, hi) = split: @unchecked
    val limit = qc.limit.getOrElse(Long.MaxValue)
    val cols = RowGen.select(name, gens(sid), qc.columns)
    Iterator.range(lo, hi).take(if (limit > Int.MaxValue) Int.MaxValue else limit.toInt)
      .map(RowGen.row(cols, _))
  }

  /** The column generators of series `sid`, keyed by t. */
  private def gens(sid: Long): Map[String, RowGen.Col] = {
    val tag = UTF8String.fromString(s"s$sid")
    Map(
      "series_id" -> (_ => sid),
      "t" -> (t => t),
      "value" -> (t => ((t * t * 31 + sid * 17) % 1000) / 10.0),
      "tag" -> (_ => tag))
  }
}
