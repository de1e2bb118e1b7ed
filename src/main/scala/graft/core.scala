package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One engine capability: a Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) a DuckDB oracle query over the same parquet
  * tables. Reference capability surface: /root/reference (steampipe-sqlite);
  * SQLite provides the relational surface, `table.go`/`cursor.go` the
  * connector surface. */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    tsNormalized(spark.read.parquet(s"$dir/$name.parquet"))

  /** Load-boundary contract for the events `ts` column: whatever layout the
    * driver's generator writes, every operator downstream sees one type — a
    * session-zone TimestampType (micros). The driver has shipped two layouts
    * so far, and both stay supported so a regen in either direction is a
    * no-op here rather than 15 broken entries:
    *  - parquet TIMESTAMP(NANOS) → Spark reads a nanos BIGINT under
    *    spark.sql.legacy.parquet.nanosAsLong=true (set by `GraftSession`);
    *    `div 1000` floors ns→us exactly like DuckDB's conversion.
    *  - parquet timestamp[us] with no timezone → Spark reads TIMESTAMP_NTZ;
    *    with the session pinned to UTC the cast to TimestampType is
    *    value-identical to what DuckDB reads from the same file.
    * Anything else (already TimestampType, or no ts column) passes through. */
  def tsNormalized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Ensure enough input partitions for CPU-heavy per-row work. The test
    * tables are single parquet files (one split), which would serialize
    * native-expression pipelines on one core; a real corpus already has
    * many splits and this is a no-op (measured: minhash signature build
    * 3.3s → 0.9s at sf0.1/local[32]). */
  def widened(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    // file-count heuristic: building df.rdd just to count partitions would
    // construct RDD lineage on the driver per call; a real corpus has many
    // files and this is a no-op
    if (df.inputFiles.length < math.max(2, target / 2)) df.repartition(target)
    else df
  }

  /** Register every table as a temp view (for spark.sql-based entries). */
  def views(spark: SparkSession, dir: String): Unit =
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}

/** The one way to run work under changed session settings: set `kvs`, run
  * `body`, and restore every key in `finally` — a key that was unset
  * before is unset again (not pinned to its default), so a throw inside
  * `body` can never leave a setting behind on a shared session. */
object Scoped {
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // the explicitly set keys only, no defaults
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

/** Shared exactness helpers (SURVEY §6): money-ish doubles in the test data
  * are 2-decimal exact, so casting to DECIMAL and summing is exact in both
  * Spark and DuckDB; the final cast to DOUBLE is then bit-identical. */
object Exact {
  def d2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** 1 - discount as an exact decimal factor. */
  def oneMinus(c: Column): Column =
    lit(1).cast(DecimalType(4, 2)) - c.cast(DecimalType(4, 2))
  def onePlus(c: Column): Column =
    lit(1).cast(DecimalType(4, 2)) + c.cast(DecimalType(4, 2))
  /** Exact decimal sum surfaced as a stable double. The sum is rounded to
    * scale 2 (cents) BEFORE the double cast: product terms carry scale 4-6,
    * and once a scale-6 sum's unscaled value passes 2^53 (≈ a 9e9 total —
    * reached at sf1) DuckDB's decimal→double (double(unscaled)/10^s,
    * double-rounded) and Spark's correctly-rounded BigDecimal cast diverge
    * by an ulp. At scale 2 the unscaled value stays exactly representable
    * until ~9e13, so the single division is correctly rounded — and
    * identical — in both engines. Oracles mirror with
    * CAST(CAST(SUM(...) AS DECIMAL(38,2)) AS DOUBLE). */
  def sumd(c: Column): Column =
    sum(c).cast(DecimalType(38, 2)).cast("double")
}
