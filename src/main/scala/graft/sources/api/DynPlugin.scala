package graft.sources.api

import org.apache.spark.sql.types._

/** Demo plugin with a CONFIG-DEPENDENT schema — the reference refetches a
  * dynamic plugin's schema and drops/recreates its vtables when connection
  * config changes (configure_fn.go:104-125, setupTables :165-180). Here
  * the `wide` table exposes `id` plus one BIGINT column per name in
  * config.extra("cols") (comma-separated; default "a"); the j-th extra
  * column (1-based) has value id * (j + 1), so DuckDB oracles are exact. */
object DynPlugin extends Plugin {
  override def name: String = "dyn"
  override def tables: Seq[ApiTable] = Seq(WideTable)
}

object WideTable extends ApiTable {
  override def name: String = "wide"

  private def cols(config: PluginConfig): Seq[String] =
    config.extra.getOrElse("cols", "a")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  override def schema: StructType = schemaFor(PluginConfig())
  override def schemaFor(config: PluginConfig): StructType =
    StructType(StructField("id", LongType, nullable = false) +:
      cols(config).map(c => StructField(c, LongType, nullable = false)))

  override def keyColumns: Seq[KeyColumn] =
    Seq(KeyColumn("id", required = false, operators = KeyColumn.comparisons))

  override def exactlyHandled(q: Qual): Boolean =
    q.field == "id" && KeyColumn.comparisons.contains(q.op) &&
      q.value.isInstanceOf[Long]

  private def narrowed(qc: QueryContext, config: PluginConfig): KeyRange =
    KeyRange.all(config.n).narrow(qc.quals, keyColumns.head)

  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    Some(narrowed(qc, config).rows)

  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] =
    narrowed(qc, config).splits(config.pageSize)(RangeSplit(_, _, desc = false, _))

  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    val gs = RowGen.select(name, gens(config), qc.columns)
    split.asInstanceOf[RangeSplit].keys.map(RowGen.row(gs, _))
  }

  /** `id`, and the j-th configured column (1-based) as id * (j + 1). */
  private def gens(config: PluginConfig): Map[String, RowGen.Col] =
    cols(config).zipWithIndex.map { case (c, j) => c -> ((i: Long) => i * (j + 2L)) }
      .toMap[String, RowGen.Col] + ("id" -> (i => i))
}
