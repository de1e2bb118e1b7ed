package graft.operators

import graft.{GraftQuery, Tables, Exact}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2.1 — the relational surface the reference gets from the SQLite
  * core over its virtual tables (reference: SQLite handles all of SQL; the
  * extension only supplies scan/pushdown, /root/reference/table.go:75-178).
  * Re-expressed as declarative DataFrame plans so Catalyst does pushdown,
  * pruning, join selection and AQE does runtime re-planning. */
object Relational {
  import Exact._

  private def li(s: SparkSession, d: String) = Tables.t(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.t(s, d, "customer")
  private def supp(s: SparkSession, d: String) = Tables.t(s, d, "supplier")
  private def part(s: SparkSession, d: String) = Tables.t(s, d, "part")
  private def nat(s: SparkSession, d: String) = Tables.t(s, d, "nation")
  private def reg(s: SparkSession, d: String) = Tables.t(s, d, "region")
  private def ev(s: SparkSession, d: String) = Tables.t(s, d, "events")

  private def ts(v: String) = lit(v).cast("timestamp")

  /** DuckDB BIGINT from 8 hex chars $m[off..off+8) (analog of Spark's
    * conv(substring(m, off, 8), 16, 10) — DuckDB has no conv()). */
  private[operators] def duckHex8(m: String, off: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range($off, ${off + 8}), " +
      s"i -> CAST(strpos('0123456789abcdef', substr($m, CAST(i AS INTEGER), 1)) - 1 AS BIGINT))), " +
      s"(a, x) -> a * 16 + x)"

  val defs: Seq[GraftQuery] = Seq(

    // 1. scan + column pruning: ReadSchema must be exactly these 3 columns.
    GraftQuery("q_scan_project",
      (s, d) => li(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem")),

    // 2. filter pushdown: =, <, >=, IN, LIKE, range — all reach the parquet scan.
    GraftQuery("q_filter_pushdown",
      (s, d) => part(s, d)
        .filter(col("p_size").isin(10, 15, 20, 25) &&
          col("p_brand").like("Brand#1%") &&
          col("p_retailprice") >= 900.0 && col("p_retailprice") < 1600.0 &&
          col("p_type") =!= "STANDARD")
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
             |FROM part
             |WHERE p_size IN (10,15,20,25) AND p_brand LIKE 'Brand#1%'
             |  AND p_retailprice >= 900.0 AND p_retailprice < 1600.0
             |  AND p_type <> 'STANDARD'""".stripMargin)),

    // 3. deterministic top-N: multi-key ORDER BY + LIMIT (limit pushed into sort → TakeOrderedAndProject).
    GraftQuery("q_limit_order",
      (s, d) => ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // 4. TPC-H Q1: partial (map-side) aggregation, exact decimal arithmetic.
    GraftQuery("q_agg_basic",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd(d2(col("l_quantity"))).as("sum_qty"),
          sumd(d2(col("l_extendedprice"))).as("sum_base_price"),
          sumd(d2(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("sum_disc_price"),
          sumd(d2(col("l_extendedprice")) * oneMinus(col("l_discount")) * onePlus(col("l_tax"))).as("sum_charge"),
          (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // 5. COUNT(DISTINCT) — expands to a two-phase distinct aggregate.
    GraftQuery("q_agg_distinct",
      (s, d) => ord(s, d).groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders")),
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,
             |COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // 6. HAVING → post-aggregate filter.
    GraftQuery("q_agg_having",
      (s, d) => li(s, d).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sumd(d2(col("l_quantity"))).as("qty"))
        .filter(col("n") > 620),
      Some("""SELECT l_suppkey, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
             |FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 620""".stripMargin)),

    // 7. fact ⋈ fact inner join (shuffle join on the key; AQE re-plans).
    GraftQuery("q_join_inner",
      (s, d) => li(s, d)
        .join(ord(s, d).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(sumd(d2(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines")),
      Some("""SELECT l_orderkey,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderstatus = 'F' GROUP BY l_orderkey""".stripMargin)),

    // 8. left outer join + null-safe aggregation.
    GraftQuery("q_join_left",
      (s, d) => cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(d2(col("o_totalprice"))), lit(0).cast(DecimalType(12, 2)))
            .cast("double").as("total")),
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
             |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey""".stripMargin)),

    // 9. EXISTS → left semi join.
    GraftQuery("q_join_semi",
      (s, d) => cust(s, d)
        .join(ord(s, d).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal"),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c.c_custkey AND o_totalprice > 400000.0)""".stripMargin)),

    // 10. NOT EXISTS → left anti join.
    GraftQuery("q_join_anti",
      (s, d) => cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)""".stripMargin)),

    // 11. TPC-H Q5-style star join; dims broadcast explicitly (they are tiny
    // at any SF relative to the facts — supplier/nation/region).
    GraftQuery("q_join_star",
      (s, d) => cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"))
        .join(li(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp(s, d)),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
        .groupBy("n_name")
        .agg(sumd(d2(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("revenue")),
      Some("""SELECT n_name,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name""".stripMargin)),

    // 12. bounded cross join.
    GraftQuery("q_cross_join",
      (s, d) => reg(s, d).crossJoin(
        cust(s, d).select("c_mktsegment").distinct())
        .select("r_name", "c_mktsegment"),
      Some("""SELECT r_name, c_mktsegment FROM region
             |CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)""".stripMargin)),

    // 13. DISTINCT projection (hash aggregate on all columns).
    GraftQuery("q_distinct",
      (s, d) => cust(s, d).select("c_mktsegment", "c_nationkey").distinct(),
      Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")),

    // 14. UNION ALL of two heterogeneous sources.
    GraftQuery("q_union_all",
      (s, d) => cust(s, d).select(col("c_custkey").as("id"), lit("cust").as("src"))
        .unionAll(supp(s, d).select(col("s_suppkey").as("id"), lit("supp").as("src"))),
      Some("""SELECT c_custkey AS id, 'cust' AS src FROM customer
             |UNION ALL SELECT s_suppkey AS id, 'supp' AS src FROM supplier""".stripMargin)),

    // 15. INTERSECT (set semantics).
    GraftQuery("q_intersect",
      (s, d) => cust(s, d).select(col("c_nationkey").cast("long").as("nk"))
        .intersect(supp(s, d).select(col("s_nationkey").cast("long").as("nk"))),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
             |INTERSECT SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier""".stripMargin)),

    // 16. EXCEPT (set semantics).
    GraftQuery("q_except",
      (s, d) => nat(s, d).select(col("n_nationkey").cast("long").as("nk"))
        .except(cust(s, d).select(col("c_nationkey").cast("long").as("nk"))),
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nk FROM nation
             |EXCEPT SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer""".stripMargin)),

    // 17. correlated scalar subquery (TPC-H Q17 pattern) via the SQL front-end.
    GraftQuery("q_subquery_scalar",
      (s, d) => { Tables.views(s, d); s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#17'
          |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
          |                    WHERE l2.l_partkey = p_partkey)""".stripMargin) },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand = 'Brand#17'
             |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
             |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // 18. IN subquery → left semi join after rewrite.
    GraftQuery("q_subquery_in",
      (s, d) => { Tables.views(s, d); s.sql(
        """SELECT p_partkey, p_name FROM part
          |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)""".stripMargin) },
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)""".stripMargin)),

    // 19. WITH / CTE.
    GraftQuery("q_cte",
      (s, d) => { Tables.views(s, d); s.sql(
        """WITH loyal AS (
          |  SELECT o_custkey, COUNT(*) AS n FROM orders
          |  GROUP BY o_custkey HAVING COUNT(*) >= 15)
          |SELECT c_mktsegment, COUNT(*) AS n_loyal, CAST(SUM(n) AS BIGINT) AS n_orders
          |FROM loyal JOIN customer ON c_custkey = o_custkey
          |GROUP BY c_mktsegment""".stripMargin) },
      Some("""WITH loyal AS (
             |  SELECT o_custkey, COUNT(*) AS n FROM orders
             |  GROUP BY o_custkey HAVING COUNT(*) >= 15)
             |SELECT c_mktsegment, COUNT(*) AS n_loyal, CAST(SUM(n) AS BIGINT) AS n_orders
             |FROM loyal JOIN customer ON c_custkey = o_custkey
             |GROUP BY c_mktsegment""".stripMargin)),

    // 20. CASE WHEN bucketing + aggregate.
    GraftQuery("q_case_expr",
      (s, d) => ord(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") >= 300000.0, "high")
            .when(col("o_totalprice") >= 100000.0, "mid")
            .otherwise("low"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sumd(d2(col("o_totalprice"))).as("total")),
      Some("""SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'high'
             |            WHEN o_totalprice >= 100000.0 THEN 'mid'
             |            ELSE 'low' END AS bucket,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY 1""".stripMargin)),

    // 21. string function surface.
    GraftQuery("q_string_funcs",
      (s, d) => cust(s, d).select(
        col("c_custkey"),
        upper(col("c_name")).as("up_name"),
        substring(col("c_name"), 1, 8).as("pre8"),
        length(col("c_name")).cast("long").as("name_len"),
        regexp_replace(col("c_name"), "#", "-").as("dashed"),
        concat(col("c_mktsegment"), lit("_"), col("c_custkey").cast("string")).as("seg_id"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("pad10"),
        trim(concat(lit("  "), col("c_name"), lit("  "))).as("trimmed")),
      Some("""SELECT c_custkey, UPPER(c_name) AS up_name,
             |  SUBSTR(c_name, 1, 8) AS pre8,
             |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
             |  REPLACE(c_name, '#', '-') AS dashed,
             |  c_mktsegment || '_' || CAST(c_custkey AS VARCHAR) AS seg_id,
             |  LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS pad10,
             |  TRIM('  ' || c_name || '  ') AS trimmed
             |FROM customer""".stripMargin)),

    // 22. date/time function surface.
    GraftQuery("q_date_funcs",
      (s, d) => ord(s, d)
        .groupBy(
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          // timestamp_ntz keeps the parquet output naive (isAdjustedToUTC =
          // false), matching DuckDB's naive TIMESTAMP for the hash compare.
          date_trunc("quarter", col("o_orderdate")).cast("timestamp_ntz").as("q_start"))
        .agg(count(lit(1)).as("n"), sumd(d2(col("o_totalprice"))).as("total")),
      Some("""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
             |  CAST(MONTH(o_orderdate) AS BIGINT) AS m,
             |  CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS q_start,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY 1, 2, 3""".stripMargin)),

    // 23. JSON column access (reference JSON columns → TEXT + JSON functions,
    // /root/reference/cursor.go:141-143).
    GraftQuery("q_json_extract",
      (s, d) => ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n")),
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
             |  COUNT(*) AS n
             |FROM events GROUP BY event_type""".stripMargin)),

    // 24. ranking window functions.
    GraftQuery("q_window_rank", (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      cust(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"))
    },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
             |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             |  CAST(RANK() OVER w AS BIGINT) AS rk,
             |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drk
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)""".stripMargin)),

    // 25. running/frame aggregates (exact decimal inside the frame so the
    // engines' frame-evaluation order cannot change the result).
    GraftQuery("q_window_running", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = w.rowsBetween(-2, Window.currentRow)
      ev(s, d).select(
        col("event_id"), col("user_id"),
        sum(d2(col("value"))).over(run).cast("double").as("run_sum"),
        (sum(d2(col("value"))).over(mov).cast("double") /
          count(lit(1)).over(mov)).as("mov_avg"))
    },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER run AS DOUBLE) AS run_sum,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER mov AS DOUBLE)
             |    / COUNT(*) OVER mov AS mov_avg
             |FROM events
             |WINDOW run AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |       mov AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // 26. top-k per group (window + filter; no global sort). This entry
    // is the MEASURED WINDOW BASELINE: the standard session installs
    // TopKRewrite (which would swap in the bounded-heap operator — see
    // q_topk_auto for that path), so this runs on a sub-session with the
    // rule's explicit off-switch to keep Spark's sort-based
    // WindowGroupLimit plan benchmarkable next to the custom operator.
    GraftQuery("q_topk_per_group", (s, d) => {
      val s2 = s.newSession()
      // newSession starts from the SparkConf, not the parent's runtime
      // conf — carry the result-affecting settings over explicitly
      for (k <- Seq("spark.sql.shuffle.partitions",
          "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
          "spark.sql.adaptive.enabled", "spark.sql.parquet.outputTimestampType",
          "spark.sql.autoBroadcastJoinThreshold"))
        if (s.conf.getOption(k).isDefined) s2.conf.set(k, s.conf.get(k))
      s2.conf.set(graft.plans.TopKRewrite.confKey, "false")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ord(s2, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    },
      Some("""SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // 27. pivot / conditional aggregation.
    GraftQuery("q_pivot",
      (s, d) => ev(s, d).groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0)
        .withColumnsRenamed(Map("click" -> "n_click", "error" -> "n_error",
          "purchase" -> "n_purchase", "signup" -> "n_signup", "view" -> "n_view")),
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
             |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
             |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
             |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
             |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
             |FROM events GROUP BY user_id""".stripMargin)),

    // 28. exact median per group via distributed sort + window (scale-safe:
    // no per-group collect; both engines pick identical middle elements and
    // average them exactly in decimal).
    GraftQuery("q_percentile", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      ord(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
        .filter(col("rn") === floor((col("cnt") + 1) / lit(2.0)).cast("long") ||
          col("rn") === floor((col("cnt") + 2) / lit(2.0)).cast("long"))
        .groupBy("o_orderpriority")
        .agg((sum(d2(col("o_totalprice"))).cast("double") / count(lit(1))).as("median_price"))
    },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS median_price
             |FROM (
             |  SELECT o_orderpriority, o_totalprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
             |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
             |  FROM orders)
             |WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
             |   OR rn = CAST(FLOOR((cnt + 2) / 2.0) AS BIGINT)
             |GROUP BY o_orderpriority""".stripMargin)),

    // 29. approximate distinct via a KMV (k-minimum-values) sketch over a
    // shared md5-derived 63-bit hash — unlike HLL (whose register layout is
    // engine-private), the k-th-minimum estimator is recomputable in plain
    // SQL, so the *approximate* answer is bit-exact oracle-checked. The
    // sketch is a native TypedImperativeAggregate: ≤256 longs per group
    // cross the shuffle regardless of input size.
    GraftQuery("q_approx_distinct", (s, d) => {
      val hash63 =
        "(CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2147483648) * 4294967296" +
          " + CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 9, 8), 16, 10) AS BIGINT)"
      li(s, d).select(col("l_returnflag"), expr(hash63).as("h"))
        .groupBy("l_returnflag")
        .agg(expr("kmv_sketch(h)").as("sk"), count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          when(col("sk.kth").isNull, col("sk.n_kept").cast("double"))
            .otherwise(expr(
              "CAST(255 AS DOUBLE) * CAST(9223372036854775808 AS DOUBLE) / CAST(sk.kth AS DOUBLE)"))
            .as("approx_parts"),
          col("n"))
    },
      Some(s"""WITH h AS (SELECT DISTINCT l_returnflag,
             |    (${Relational.duckHex8("m", 1)} % 2147483648) * 4294967296
             |      + ${Relational.duckHex8("m", 9)} AS h
             |  FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS m FROM lineitem)),
             |r AS (SELECT l_returnflag, h,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM h),
             |g AS (SELECT l_returnflag, COUNT(*) AS nk,
             |    MAX(CASE WHEN rn = 256 THEN h END) AS kth
             |  FROM r WHERE rn <= 256 GROUP BY l_returnflag),
             |c AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag)
             |SELECT g.l_returnflag,
             |  CASE WHEN kth IS NULL THEN CAST(nk AS DOUBLE)
             |       ELSE CAST(255 AS DOUBLE) * CAST(9223372036854775808 AS DOUBLE)
             |            / CAST(kth AS DOUBLE) END AS approx_parts,
             |  c.n
             |FROM g JOIN c ON c.l_returnflag = g.l_returnflag""".stripMargin)),

    // 30. AS-OF join: each purchase ↔ latest prior view of the same user.
    // Spark-first: single shuffle on user_id + one window pass (no range
    // explosion); oracle uses DuckDB's native ASOF JOIN.
    GraftQuery("q_asof_join", (s, d) => {
      val e = ev(s, d).filter(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("view_id", when(col("event_type") === "view", col("event_id")))
        .withColumn("prior_view_id", last(col("view_id"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("prior_view_id") === col("event_id"), lit(null))
            .otherwise(col("prior_view_id")).as("prior_view_id"))
    },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS prior_view_id
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // 30b. AS-OF join with tolerance: the prior view only counts if it
    // happened within 2 hours of the purchase (same single-shuffle window
    // plan; the oracle bounds DuckDB's ASOF match with a CASE).
    GraftQuery("q_asof_tolerance", (s, d) => {
      val e = ev(s, d).filter(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("view_id", when(col("event_type") === "view", col("event_id")))
        .withColumn("view_us", when(col("event_type") === "view", col("us")))
        .withColumn("pv_id", last(col("view_id"), ignoreNulls = true).over(w))
        .withColumn("pv_us", last(col("view_us"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("us") - col("pv_us") <= 7200000000L, col("pv_id"))
            .as("prior_view_id"))
    },
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
             |  CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 7200000000
             |       THEN v.event_id END AS prior_view_id
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // 31. batch sessionization: gap > 30 min ⇒ new session (single shuffle
    // on user_id; windows + one aggregate — the batch twin of §2.4 st_sessionize).
    GraftQuery("q_sessionize", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("brk",
          when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
            .when(lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(run))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"))
    },
      Some("""WITH x AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS us,
             |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
             |         OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, us,
             |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM x)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |  MIN(us) AS start_us, MAX(us) AS end_us
             |FROM s GROUP BY user_id, session_id""".stripMargin))
  )
}
