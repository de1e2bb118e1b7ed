package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}

/** Public entry points for graft's custom whole-plan operators. */
object GraftOps {

  /** Idempotent per-session planner + optimizer registration (part of
    * `Graft.init`; `topKPerGroup` needs it on the session it plans in):
    * the TopK and driver-scan strategies, and the TopK and
    * runtime-key-pruning rules. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    val absent = Seq(TopKStrategy, DriverScanStrategy).filterNot(cur.contains)
    if (absent.nonEmpty)
      spark.experimental.extraStrategies = cur ++ absent
    val opts = spark.experimental.extraOptimizations
    val missing = Seq(TopKRewrite, RuntimeKeyPruning).filterNot(opts.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = opts ++ missing
  }

  /** Top-k rows per group with a rank column, via the two-phase bounded-
    * heap operator (see TopKPerGroup). `order` entries are
    * (columnName, ascending). */
  def topKPerGroup(spark: SparkSession, df: DataFrame, groupBy: Seq[String],
      order: Seq[(String, Boolean)], k: Int, rankName: String = "rk"): DataFrame = {
    val child = GraftBridge.analyzed(df)
    val groupCols = groupBy.map(n => UnresolvedAttribute.quotedString(n))
    val sortOrder = order.map { case (n, asc) =>
      SortOrder(UnresolvedAttribute.quotedString(n), if (asc) Ascending else Descending)
    }
    val plan = TopKPerGroup(groupCols, sortOrder, k,
      TopKPerGroup.rankAttribute(rankName), child)
    GraftBridge.ofRows(spark, plan)
  }
}
