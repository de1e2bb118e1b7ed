package graft

import org.apache.spark.sql.SparkSession

/** One-call session wiring for the whole library — the analog of loading
  * the reference's SQLite extension (`.load steampipe_sqlite_<plugin>`):
  * after init, the SQL surface has graft's functions, the planner has its
  * strategies and rewrite rules, and `graft.<plugin>.<table>` resolves.
  * Idempotent; `GraftSession` calls it when a session is made and
  * `SparkEntry.queries` before each entry, so operators never wire. */
object Graft {
  def init(spark: SparkSession): SparkSession = {
    functions.F.register(spark)       // scalar + aggregate expressions
    plans.GraftOps.register(spark)    // TopK strategy, TopK + runtime-key-pruning rules
    sources.api.GraftConfigure.ensureCatalog(spark) // graft.* catalog
    // env-controlled log level (reference logging.go: STEAMPIPE_LOG_LEVEL)
    sys.env.get("GRAFT_LOG_LEVEL").foreach(spark.sparkContext.setLogLevel)
    spark
  }

  /** Register an additional connector plugin (reference: one compiled
    * extension per plugin; here plugins co-exist in one registry). */
  def registerPlugin(p: sources.api.Plugin): Unit =
    sources.api.PluginRegistry.register(p)
}

/** The one way to build a graft session: the standard confs, log level
  * WARN, then `Graft.init`. Every main and the test session build here;
  * a caller's own differences go in `extra`, which wins over `confs`.
  * `stop` is the one way a main ends its session. */
object GraftSession {
  /** Local cores: SPARK_GRAFT_CPUS, else min(32, nproc). */
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  /** The standard session confs, as plain data. */
  def confs(cores: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  def apply(extra: (String, String)*): SparkSession = apply(cores, extra: _*)

  /** The harness mains' session: the standard one, then `extra`. At
    * sf >= 1 one shuffle partition per core makes partitions outgrow
    * executor memory and spill, so SPARK_GRAFT_SHUFFLE, when set, raises
    * the initial width and AQE coalesces small stages back down (256 for
    * the sf1 runs). */
  def harness(extra: (String, String)*): SparkSession =
    apply(cores, sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map("spark.sql.shuffle.partitions" -> _).toSeq ++ extra: _*)

  def apply(cores: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
    (confs(cores) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.init(s)
  }

  /** Free every stage and pin OpCache holds for `s`, then stop it. */
  def stop(s: SparkSession): Unit = {
    operators.OpCache.release(s)
    s.stop()
  }
}
