package graft.sources.api

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's GENERATOR layer re-expressed as data: steampipe-sqlite
  * compiles ~140 plugins into extensions by rendering a table description
  * through templates (reference generate/generator.go:23 `RenderDir` +
  * templates/main.go.tmpl). Here the description never becomes code — a
  * JSON document declares schema, key column, row count, page size and
  * per-column generator terms, and ONE generic `DeclaredTable` interprets
  * it through the exact same pushdown path (qual narrowing, IN probes,
  * paging splits, column pruning, stats, cache, retry) every hand-written
  * plugin uses. Adding a "plugin" is adding a config file.
  *
  * Generator terms (all pure functions of the row key, so DuckDB oracles
  * reproduce every declared table via range()):
  *   key            → i                        (bigint)
  *   mod:m          → i % m                    (bigint)
  *   mulmod:a:m     → (i * a) % m              (bigint)
  *   div:s          → i / s                    (double)
  *   format:pre{}post → "pre" + i + "post"     (string)
  *   flag:m         → i % m == 0               (boolean)
  *   date:yyyy-MM-dd → base + i days           (date; invertible key)
  *
  * Key-column terms must be invertible (`key`, `date:`): quals on the key
  * column — including DATE quals, which GraftScanBuilder.qualOf delivers
  * as epoch-days Longs (reference mapping.go:108-158, constants.go:6
  * DATEONLY) — invert to exact key ranges in splits() through KeyRange. */
object DeclaredPlugin {
  import com.fasterxml.jackson.databind.ObjectMapper
  import scala.jdk.CollectionConverters._

  /** Parse + build a plugin from a declarative JSON config. */
  def fromJson(json: String): Plugin = {
    val root = new ObjectMapper().readTree(json)
    val tables: Seq[ApiTable] = root.get("tables").elements().asScala.map { t =>
      val cols = t.get("columns").elements().asScala.map { c =>
        DeclaredColumn(c.get("name").asText(), sqlType(c.get("type").asText()),
          Gen.parse(c.get("gen").asText()))
      }.toSeq
      val key = t.get("key")
      val spec = DeclaredTableSpec(
        t.get("table").asText(),
        key.get("column").asText(),
        Option(key.get("required")).exists(_.asBoolean(false)),
        t.get("rows").asLong(),
        t.get("pageSize").asLong(),
        cols)
      DeclaredTable(spec): ApiTable
    }.toSeq
    Declared(root.get("plugin").asText(), tables)
  }

  /** Load a config shipped as a classpath resource (the "plugin package"). */
  def fromResource(path: String): Plugin = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"declared-plugin config resource not found: $path")
    try fromJson(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  private def sqlType(t: String): DataType = t match {
    case "bigint" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case "boolean" => BooleanType
    case "date" => DateType
    case "timestamp" => TimestampNTZType
    case other => throw new IllegalArgumentException(s"unknown declared type '$other'")
  }

  final case class Declared(name: String, tables: Seq[ApiTable]) extends Plugin
}

/** One declared column: a Spark type plus a generator term evaluated per
  * key — the "API response" as data. */
final case class DeclaredColumn(name: String, dataType: DataType, gen: Gen)

/** A parsed generator term; eval returns Catalyst-internal values
  * (UTF8String, epoch-days Int, micros Long) like every ApiTable.scan. */
sealed trait Gen extends Serializable { def eval(i: Long): Any }
object Gen {
  case object Key extends Gen { def eval(i: Long): Any = i }
  final case class Mod(m: Long) extends Gen { def eval(i: Long): Any = i % m }
  final case class MulMod(a: Long, m: Long) extends Gen {
    def eval(i: Long): Any = (i * a) % m
  }
  final case class Div(s: Double) extends Gen { def eval(i: Long): Any = i / s }
  final case class Format(pre: String, post: String) extends Gen {
    def eval(i: Long): Any = UTF8String.fromString(pre + i + post)
  }
  final case class Flag(m: Long) extends Gen { def eval(i: Long): Any = i % m == 0 }
  final case class DateFrom(baseDay: Long) extends Gen {
    def eval(i: Long): Any = (baseDay + i).toInt
  }

  def parse(s: String): Gen = {
    val parts = s.split(":", 2)
    (parts(0), parts.lift(1)) match {
      case ("key", None) => Key
      case ("mod", Some(m)) => Mod(m.toLong)
      case ("mulmod", Some(am)) =>
        val Array(a, m) = am.split(":", 2); MulMod(a.toLong, m.toLong)
      case ("div", Some(d)) => Div(d.toDouble)
      case ("format", Some(tpl)) =>
        val j = tpl.indexOf("{}")
        require(j >= 0, s"format term needs a {} placeholder: $tpl")
        Format(tpl.substring(0, j), tpl.substring(j + 2))
      case ("flag", Some(m)) => Flag(m.toLong)
      case ("date", Some(base)) => DateFrom(java.time.LocalDate.parse(base).toEpochDay)
      case _ => throw new IllegalArgumentException(s"unknown generator term '$s'")
    }
  }

  /** Key-space inverse of an invertible key-column term: a pushed qual
    * value (Long id, or Long epoch-days for DATE quals) → row key. */
  def invert(g: Gen, v: Any): Option[Long] = (g, v) match {
    case (Key, l: Long) => Some(l)
    case (DateFrom(b), l: Long) => Some(l - b)
    case _ => None
  }
}

final case class DeclaredTableSpec(
    table: String,
    keyColumn: String,
    keyRequired: Boolean,
    rows: Long,
    pageSize: Long,
    columns: Seq[DeclaredColumn]) extends Serializable

/** The single generic interpreter: every declared table shares this
  * implementation of the full ApiTable pushdown surface. */
final case class DeclaredTable(spec: DeclaredTableSpec) extends ApiTable {
  override def name: String = spec.table
  override def schema: StructType =
    StructType(spec.columns.map(c => StructField(c.name, c.dataType, nullable = false)))
  override def keyColumns: Seq[KeyColumn] = Seq(KeyColumn(
    spec.keyColumn, spec.keyRequired, KeyColumn.comparisons :+ "in"))

  private val keyGen: Gen = spec.columns.find(_.name == spec.keyColumn)
    .getOrElse(throw new IllegalArgumentException(
      s"declared table '${spec.table}' key column '${spec.keyColumn}' is not declared"))
    .gen

  /** Key-column quals invert to exact row-key narrowing in splits(), so
    * they are claimed exact; everything else stays residual (Spark
    * re-checks, like the reference's Omit=false). */
  override def exactlyHandled(q: Qual): Boolean =
    q.field == spec.keyColumn && (q.op match {
      case "in" => q.value match {
        case vs: Seq[_] => vs.forall(v => Gen.invert(keyGen, v).isDefined)
        case _ => false
      }
      case op => KeyColumn.comparisons.contains(op) && Gen.invert(keyGen, q.value).isDefined
    })

  private def narrowed(qc: QueryContext): KeyRange =
    KeyRange.all(spec.rows).narrow(qc.quals, keyColumns.head,
      v => Gen.invert(keyGen, v).map((_, true)))

  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    Some(narrowed(qc).rows)

  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] =
    narrowed(qc).splits(spec.pageSize)(RangeSplit(_, _, desc = false, _))

  override def scan(split: ApiSplit, qc: QueryContext,
      config: PluginConfig): Iterator[Array[Any]] = {
    val cols = RowGen.select(name, gens, qc.columns)
    split.asInstanceOf[RangeSplit].keys.map(RowGen.row(cols, _))
  }

  private val gens: Map[String, RowGen.Col] =
    spec.columns.map(c => c.name -> (c.gen.eval _)).toMap
}
