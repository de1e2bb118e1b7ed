package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7 (plan). */
object SparkEntry {

  /** All capability modules; each contributes GraftQuery defs. */
  def allDefs: Seq[GraftQuery] =
    operators.Relational.defs ++ operators.Relational2.defs ++
      operators.Relational3.defs ++ operators.Graph.defs ++
      operators.TextOps.defs ++ operators.TextOps2.defs ++
      operators.Curation.defs ++ operators.Curation2.defs ++
      operators.Curation3.defs ++ operators.DataQuality.defs ++
      operators.Entity.defs ++
      operators.Similarity.defs ++ operators.Similarity2.defs ++
      operators.VTab.defs ++
      operators.Multimodal.defs ++ operators.Sinks.defs ++
      streaming.Streams.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_basic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * wires the session it is given (`Graft.init` is idempotent), so a
    * session the caller built itself still resolves graft's functions,
    * planner rules and catalog. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { q =>
      q.name -> ((s: SparkSession, d: String) => q.run(Graft.init(s), d))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
