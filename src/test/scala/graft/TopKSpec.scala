package graft

import graft.plans.{GraftOps, TopKPerGroupExec, TopKRewrite}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** The custom two-phase top-k operator: result parity with the window
  * formulation and the plan shape that makes it scale (bounded heaps both
  * sides of exactly one shuffle). */
class TopKSpec extends SparkSpec {

  private def custom = {
    val base = Tables.t(spark, sf, "orders")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    GraftOps.topKPerGroup(spark, base, Seq("o_orderpriority"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3, "rn")
  }

  test("custom top-k equals window row_number formulation") {
    val fromWindow = SparkEntry.queries("q_topk_per_group")(spark, sf)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    val fromCustom = custom
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    assert(fromCustom == fromWindow)
  }

  test("plan is two-phase with exactly one exchange between the phases") {
    // string-match: AQE wraps the plan, hiding nodes from collect()
    val plan = custom.queryExecution.executedPlan.toString
    assert("TopKPerGroup".r.findAllIn(plan).length == 2,
      s"expected partial+final, got:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected one shuffle, got:\n$plan")
  }

  test("optimizer rule rewrites row_number<=k filter into TopKPerGroup") {
    Tables.t(spark, sf, "orders").createOrReplaceTempView("orders_tk")
    val df = spark.sql(
      """SELECT o_orderpriority, rn, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders_tk) WHERE rn <= 3""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    // and the rewritten plan returns the window-semantics result
    val viaWindow = SparkEntry.queries("q_topk_per_group")(spark, sf)
      .select("o_orderpriority", "rn", "o_orderkey")
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(r =>
      Seq(r.getString(0), r.getInt(1).toLong, r.getLong(2))).toSet == viaWindow)
  }

  test("rewrite sees through the .cast(long) idiom and obeys the off-switch") {
    import org.apache.spark.sql.functions._
    def windowForm() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.t(spark, sf, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey")
    }
    val on = windowForm()
    val planOn = on.queryExecution.executedPlan.toString
    assert(planOn.contains("TopKPerGroup"),
      s"rewrite did not fire through the cast:\n$planOn")
    assert(!planOn.contains("windowspecdefinition"),
      s"window survived the cast-form rewrite:\n$planOn")
    // the explicit flag restores the window baseline — and both plans
    // return the same rows
    val prev = spark.conf.getOption(TopKRewrite.confKey)
    spark.conf.set(TopKRewrite.confKey, "false")
    try {
      val off = windowForm()
      val planOff = off.queryExecution.executedPlan.toString
      assert(!planOff.contains("TopKPerGroup"),
        s"off-switch ignored:\n$planOff")
      assert(planOff.contains("windowspecdefinition"),
        s"baseline lost its window plan:\n$planOff")
      assert(on.collect().map(_.toSeq).toSet == off.collect().map(_.toSeq).toSet)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(TopKRewrite.confKey, v)
        case None => spark.conf.unset(TopKRewrite.confKey)
      }
    }
  }

  test("ties and small groups: k larger than group size emits whole group") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")
    val out = GraftOps.topKPerGroup(spark, df, Seq("g"), Seq(("v", true)), 5, "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 1L)))
  }
}
