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

  /** Whether `name` is picked by an optional name regex (none picks all). */
  def picked(only: Option[String])(name: String): Boolean =
    only.forall(_.r.findFirstIn(name).isDefined)

  /** The harness loop every main runs its entries through: `use` on each
    * of `entries` that `only` picks, in name order. Stream replays
    * checkpoint on tmpfs. Anything an entry's `use` throws is that entry's
    * failure: logged as `[tag] name failed: …`, kept with its full message
    * (a caller may grep it), and the next entry still runs. After every
    * entry its scoped pins are released (see `OpCache.releaseScoped`), so
    * one entry's working caches never hold storage memory through the
    * entries after it, and a region `use` times never pays for the
    * release. */
  def each[T](spark: SparkSession, entries: Map[String, (SparkSession, String) => DataFrame],
      tag: String, only: Option[String] = None)(
      use: (String, (SparkSession, String) => DataFrame) => T): Seq[(String, Either[String, T])] = {
    streaming.Streams.useTmpfsCheckpoints(spark) // replay ckpts are scratch
    entries.toSeq.filter(e => picked(only)(e._1)).sortBy(_._1).map { case (name, fn) =>
      val result: Either[String, T] = try Right(use(name, fn)) catch { case e: Throwable =>
        val message = String.valueOf(e.getMessage)
        System.err.println(s"[$tag] $name failed: $message")
        Left(message)
      } finally operators.OpCache.releaseScoped(spark)
      name -> result
    }
  }
}
