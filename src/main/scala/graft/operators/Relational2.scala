package graft.operators

import graft.{GraftQuery, Tables, Exact}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2.1 extension — the rest of the SQLite-core surface (recursive
  * CTEs, window offsets, group_concat, OFFSET, regex, null handling, cast/
  * format) plus warehouse staples SQLite lacks but a Spark engine should
  * have (ROLLUP, arg-max), and real semantics for the reference's
  * IPADDR/CIDR/LTREE text types. */
object Relational2 {
  import Exact._

  private def ord(s: SparkSession, d: String) = Tables.t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.t(s, d, "customer")
  private def li(s: SparkSession, d: String) = Tables.t(s, d, "lineitem")
  private def numbers(s: SparkSession) =
    s.read.format("graft").option("plugin", "seq").option("table", "numbers").load()

  val defs: Seq[GraftQuery] = Seq(

    // 55. recursive CTE (SQLite WITH RECURSIVE ↔ Spark 4 recursive CTE).
    GraftQuery("q_cte_recursive",
      (s, d) => { Tables.views(s, d); s.sql(
        """WITH RECURSIVE seq(n) AS (
          |  SELECT 0 UNION ALL SELECT n + 1 FROM seq WHERE n < 24)
          |SELECT CAST(n AS BIGINT) AS n, n_name
          |FROM seq JOIN nation ON n = n_nationkey""".stripMargin) },
      Some("""WITH RECURSIVE seq(n) AS (
             |  SELECT 0 UNION ALL SELECT n + 1 FROM seq WHERE n < 24)
             |SELECT CAST(n AS BIGINT) AS n, n_name
             |FROM seq JOIN nation ON n = n_nationkey""".stripMargin)),

    // 56. window offset functions: lag/lead/first_value/ntile.
    GraftQuery("q_window_offsets", (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      cust(s, d).select(
        col("c_custkey"), col("c_mktsegment"),
        lag(col("c_custkey"), 1).over(w).as("prev_id"),
        lead(col("c_custkey"), 1).over(w).as("next_id"),
        first(col("c_custkey")).over(w).as("first_id"),
        ntile(4).over(w).cast("long").as("quartile"))
    },
      Some("""SELECT c_custkey, c_mktsegment,
             |  LAG(c_custkey, 1) OVER w AS prev_id,
             |  LEAD(c_custkey, 1) OVER w AS next_id,
             |  FIRST_VALUE(c_custkey) OVER w AS first_id,
             |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)""".stripMargin)),

    // 56b. value-based RANGE frame (trailing 1-hour totals per user) +
    // distribution functions (exact rationals in both engines).
    GraftQuery("q_window_range", (s, d) => {
      val ev = Tables.t(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
      val wRange = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      val wOrder = Window.partitionBy(col("user_id"))
        .orderBy(col("value").asc, col("event_id").asc)
      ev.select(
        col("event_id"), col("user_id"),
        sum(Exact.d2(col("value"))).over(wRange).cast("double").as("hour_total"),
        count(lit(1)).over(wRange).as("hour_n"),
        percent_rank().over(wOrder).as("pr"),
        cume_dist().over(wOrder).as("cd"))
    },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER wr AS DOUBLE) AS hour_total,
             |  COUNT(*) OVER wr AS hour_n,
             |  PERCENT_RANK() OVER wo AS pr,
             |  CUME_DIST() OVER wo AS cd
             |FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
             |WINDOW wr AS (PARTITION BY user_id ORDER BY us
             |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
             |       wo AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin)),

    // 57. group_concat (SQLite) with deterministic ordering.
    GraftQuery("q_group_concat",
      (s, d) => cust(s, d)
        .filter(col("c_custkey") < 200L)
        .groupBy(col("c_nationkey").cast("long").as("nk"))
        .agg(array_join(array_sort(collect_list(col("c_name"))), "|").as("names"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nk,
             |  STRING_AGG(c_name, '|' ORDER BY c_name) AS names, COUNT(*) AS n
             |FROM customer WHERE c_custkey < 200 GROUP BY c_nationkey""".stripMargin)),

    // 58. LIMIT ... OFFSET pagination.
    GraftQuery("q_offset",
      (s, d) => ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
        .offset(40).limit(20),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 40""".stripMargin)),

    // 59. regex surface (RE2-safe patterns): match + extract.
    GraftQuery("q_regex",
      (s, d) => cust(s, d).select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("name_num"),
        col("c_name").rlike("Customer#0*1[0-9]").as("teen_id"),
        regexp_replace(col("c_mktsegment"), "[AEIOU]", "_").as("devoweled")),
      Some("""SELECT c_custkey,
             |  CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
             |  regexp_matches(c_name, 'Customer#0*1[0-9]') AS teen_id,
             |  regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS devoweled
             |FROM customer""".stripMargin)),

    // 60. NULL semantics: outer-join nulls, coalesce, nullif, IS NULL.
    GraftQuery("q_null_handling", (s, d) => {
      val big = ord(s, d).filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      cust(s, d).join(big, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("big_order"),
          col("o_orderkey").isNull.as("missing"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"))
    },
      Some("""SELECT c_custkey,
             |  COALESCE(o_orderkey, -1) AS big_order,
             |  o_orderkey IS NULL AS missing,
             |  NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null
             |FROM customer LEFT JOIN
             |  (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
             |   WHERE o_totalprice > 450000.0) o ON c_custkey = o_custkey""".stripMargin)),

    // 61. CAST surface + timestamp formatting. (FLOOR before the int cast:
    // Spark truncates double→bigint, DuckDB rounds — floor makes both exact.)
    GraftQuery("q_cast_format",
      (s, d) => ord(s, d).filter(col("o_orderkey") < 3000L).select(
        col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        col("o_orderkey").cast("string").as("key_str"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day_str"),
        concat(col("o_orderpriority"), lit("/"),
          col("o_orderstatus")).as("pri_status")),
      Some("""SELECT o_orderkey,
             |  CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
             |  CAST(o_orderkey AS VARCHAR) AS key_str,
             |  strftime(o_orderdate, '%Y-%m-%d') AS day_str,
             |  o_orderpriority || '/' || o_orderstatus AS pri_status
             |FROM orders WHERE o_orderkey < 3000""".stripMargin)),

    // 62. ROLLUP hierarchy totals (beyond SQLite; core at warehouse scale).
    GraftQuery("q_rollup",
      (s, d) => {
        // pre-aggregate to the (y, priority) domain BEFORE the ROLLUP's
        // Expand (guide §2.3 "aggregate before you shuffle", applied to
        // Expand: the direct form runs the full scan's row stream through
        // the aggregate 3×, once per grouping level). COUNT re-folds as
        // SUM of partial counts and the DECIMAL(12,2) partial sums re-fold
        // exactly, so the result is bit-identical; oracle unchanged.
        val base = ord(s, d)
          .groupBy(year(col("o_orderdate")).cast("long").as("y"),
            col("o_orderpriority"))
          .agg(count(lit(1)).as("pn"), sum(d2(col("o_totalprice"))).as("pt"))
        base.rollup(col("y"), col("o_orderpriority"))
          .agg(sum(col("pn")).as("n"),
            sum(col("pt")).cast("decimal(38,2)").cast("double").as("total"))
      },
      Some("""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y, o_orderpriority,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY ROLLUP(1, 2)""".stripMargin)),

    // 63. arg-max/arg-min with an exact composite tiebreak key.
    GraftQuery("q_argmax", (s, d) => {
      val key = (round(col("o_totalprice") * 100).cast("long") * 10000000L +
        col("o_orderkey")).as("k")
      ord(s, d)
        .withColumn("k", key)
        .groupBy("o_orderpriority")
        .agg(max_by(col("o_orderkey"), col("k")).as("top_order"),
          min_by(col("o_orderkey"), col("k")).as("bottom_order"),
          max(col("o_totalprice")).as("top_price"))
    },
      Some("""SELECT o_orderpriority,
             |  ARG_MAX(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS top_order,
             |  ARG_MIN(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS bottom_order,
             |  MAX(o_totalprice) AS top_price
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // 64. math functions with IEEE-exact cross-engine results.
    GraftQuery("q_math_funcs",
      (s, d) => li(s, d).filter(col("l_orderkey") < 500L).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("d_abs"),
        ceil(col("l_quantity") / 7.0).cast("long").as("q_ceil"),
        floor(col("l_quantity") / 7.0).cast("long").as("q_floor"),
        sqrt(col("l_quantity")).as("q_sqrt"),
        (col("l_orderkey") % 7L).as("k_mod"),
        signum(col("l_discount") - 0.04).as("d_sign")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  ABS(l_discount - 0.05) AS d_abs,
             |  CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS q_ceil,
             |  CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS q_floor,
             |  SQRT(l_quantity) AS q_sqrt,
             |  l_orderkey % 7 AS k_mod,
             |  CAST(SIGN(l_discount - 0.04) AS DOUBLE) AS d_sign
             |FROM lineitem WHERE l_orderkey < 500""".stripMargin)),

    // 67i. statistical aggregates from exact moments: variance/stddev/corr
    // computed as one pass of DECIMAL-exact sums (x, x², y, y², xy), then
    // identical double arithmetic in both engines. (Built-in stddev/corr
    // use Welford updates whose float order differs per engine — the
    // moments form is the map-side-partial, scale-friendly one anyway.)
    GraftQuery("q_agg_stats", (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      def d4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(24, 4))
      // decimal→double of large sums rounds differently per engine; route
      // every moment through exact integer units (×10^scale → BIGINT →
      // DOUBLE → ÷10^scale), bit-deterministic in both engines
      def u2(c: org.apache.spark.sql.Column) =
        (c * 100).cast("bigint").cast("double") / 100.0
      def u4(c: org.apache.spark.sql.Column) =
        (c * 10000).cast("bigint").cast("double") / 10000.0
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          u2(sum(d2(col("l_quantity")))).as("sx"),
          u4(sum(d4(d2(col("l_quantity")) * d2(col("l_quantity"))))).as("sxx"),
          u2(sum(d2(col("l_discount")))).as("sy"),
          u4(sum(d4(d2(col("l_discount")) * d2(col("l_discount"))))).as("syy"),
          u4(sum(d4(d2(col("l_quantity")) * d2(col("l_discount"))))).as("sxy"))
        .select(
          col("l_returnflag"), col("n"),
          (col("sx") / col("n")).as("mean_qty"),
          ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_qty"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("std_qty"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
              sqrt(col("syy") - col("sy") * col("sy") / col("n")))).as("corr_qd"))
    },
      Some("""WITH m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sx,
             |    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(24,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sxx,
             |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sy,
             |    CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(24,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS syy,
             |    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(24,4))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  sx / n AS mean_qty,
             |  (sxx - sx * sx / n) / (n - 1) AS var_qty,
             |  SQRT((sxx - sx * sx / n) / (n - 1)) AS std_qty,
             |  (sxy - sx * sy / n) /
             |    (SQRT(sxx - sx * sx / n) * SQRT(syy - sy * sy / n)) AS corr_qd
             |FROM m""".stripMargin)),

    // 67g. schema-on-read JSON: from_json into a typed struct (vs the
    // path-extraction in q_json_extract).
    GraftQuery("q_json_struct",
      (s, d) => Tables.t(s, d, "events")
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))))
        .select(col("event_id"), col("p.k").cast("long").as("k"))
        .filter(col("k") >= 5),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 5""".stripMargin)),

    // 67h. explicit GROUPING SETS (independent of ROLLUP/CUBE).
    GraftQuery("q_grouping_sets",
      (s, d) => { Tables.views(s, d); s.sql(
        // pre-aggregate to the (status, priority) domain before the
        // GROUPING SETS Expand — same bit-identical re-fold as q_rollup
        """SELECT o_orderstatus, o_orderpriority, SUM(pn) AS n
          |FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS pn
          |      FROM orders GROUP BY o_orderstatus, o_orderpriority)
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // 67d. generator / LATERAL VIEW: explode tokens into rows.
    GraftQuery("q_explode",
      (s, d) => Tables.t(s, d, "documents")
        .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100),
      Some("""SELECT token, COUNT(*) AS n FROM (
             |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
             |  FROM documents)
             |GROUP BY token HAVING COUNT(*) >= 100""".stripMargin)),

    // 67e. CUBE: all grouping combinations.
    GraftQuery("q_cube",
      (s, d) => {
        // same pre-aggregation-before-Expand shape as q_rollup (CUBE
        // expands 4×); bit-identical re-fold, oracle unchanged.
        val base = ord(s, d)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("pn"), sum(d2(col("o_totalprice"))).as("pt"))
        base.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(sum(col("pn")).as("n"),
            sum(col("pt")).cast("decimal(38,2)").cast("double").as("total"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY CUBE(1, 2)""".stripMargin)),

    // 67f. unpivot (wide → long).
    GraftQuery("q_unpivot",
      (s, d) => ord(s, d).filter(col("o_orderkey") < 2000L).select(
        col("o_orderkey"),
        expr("stack(2, 'totalprice', o_totalprice, 'custkey', CAST(o_custkey AS DOUBLE))")
          .as(Seq("metric", "v"))),
      Some("""SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS v
             |FROM orders WHERE o_orderkey < 2000
             |UNION ALL
             |SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE)
             |FROM orders WHERE o_orderkey < 2000""".stripMargin)),

    // 67b. top-k per group through the custom two-phase bounded-heap
    // operator (LogicalPlan + Strategy + Exec, graft.plans.TopKPerGroup) —
    // same semantics and oracle as the window formulation (q_topk_per_group),
    // but shuffles only k rows per group per partition instead of sorting
    // whole partitions.
    GraftQuery("q_topk_custom", (s, d) => {
      val base = ord(s, d).select("o_orderpriority", "o_orderkey", "o_totalprice")
      graft.plans.GraftOps.topKPerGroup(s, base,
        groupBy = Seq("o_orderpriority"),
        order = Seq(("o_totalprice", false), ("o_orderkey", true)),
        k = 3, rankName = "rn")
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    },
      Some("""SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // 67c. the same top-k written as plain window SQL, planned through the
    // TopKRewrite optimizer rule (Rule[LogicalPlan]): users keep their SQL,
    // the engine swaps in the bounded-heap operator.
    GraftQuery("q_topk_rewrite", (s, d) => {
      Tables.views(s, d)
      s.sql("""SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
              |FROM (
              |  SELECT o_orderpriority, o_orderkey, o_totalprice,
              |    row_number() OVER (PARTITION BY o_orderpriority
              |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
              |  FROM orders) WHERE rn <= 3""".stripMargin)
    },
      Some("""SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // 67d. the window DataFrame form EXACTLY as q_topk_per_group writes
    // it, but on the STANDARD session (TopKRewrite installed and on, the
    // Graft.init default): the rule sees through the `.cast("long")`
    // oracle-parity idiom and swaps in the two-phase bounded-heap
    // operator automatically — any user's row_number()-rank-filter gets
    // the 9.7×-at-sf10 plan with no code change. Plan-contract-pinned
    // (partial+final TopKPerGroup, no Window sort).
    GraftQuery("q_topk_auto", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ord(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    },
      Some("""SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // 65. IPADDR/CIDR semantics over the connector's network columns
    // (native cidr_contains/ip_to_long expressions; the reference carries
    // these types as TEXT, mapping.go:107-131).
    GraftQuery("q_net_funcs", (s, d) => {
      numbers(s).filter(col("id") < 2000L).select(
        col("id"), col("ip"), col("cidr"),
        expr("ip_to_long(ip)").as("ipl"),
        expr("cidr_contains('10.0.4.0/22', ip)").as("in_block"),
        expr("cidr_contains(cidr, '192.168.7.77')").as("owns_host"))
    },
      Some("""SELECT i AS id,
             |  '10.' || ((i // 65536) % 256) || '.' || ((i // 256) % 256) || '.' || (i % 256) AS ip,
             |  '192.168.' || (i % 256) || '.0/24' AS cidr,
             |  167772160 + i AS ipl,
             |  (167772160 + i) // 1024 = 163841 AS in_block,
             |  (i % 256) = 7 AS owns_host
             |FROM range(0, 2000) t(i)""".stripMargin)),

    // 66. LTREE semantics composed from codegen'd built-ins (preference (a):
    // compose existing ops — no custom operator needed).
    GraftQuery("q_ltree_funcs", (s, d) => {
      numbers(s).filter(col("id") < 1000L).select(
        col("id"), col("path"),
        size(split(col("path"), "\\.")).cast("long").as("level"),
        (col("path").like("root.n3.%") || col("path") === "root.n3").as("under_n3"),
        array_join(slice(split(col("path"), "\\."), 1, 2), ".").as("subpath2"))
    },
      Some("""SELECT i AS id, 'root.n' || (i % 10) || '.leaf' AS path,
             |  CAST(3 AS BIGINT) AS level,
             |  (i % 10) = 3 AS under_n3,
             |  'root.n' || (i % 10) AS subpath2
             |FROM range(0, 1000) t(i)""".stripMargin)),

    // 67j. correlated EXISTS / NOT EXISTS — Catalyst rewrites both into
    // semi/anti joins (no per-row subquery execution at any scale).
    GraftQuery("q_exists",
      (s, d) => { graft.Tables.views(s, d); s.sql(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderstatus = 'F')""".stripMargin) },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_orderpriority = '1-URGENT')
             |  AND NOT EXISTS (SELECT 1 FROM orders o2
             |                  WHERE o2.o_custkey = c.c_custkey
             |                    AND o2.o_orderstatus = 'F')""".stripMargin)),

    // 67k. LATERAL correlated subquery (top-1 order per customer) —
    // Catalyst decorrelates it; the DuckDB oracle runs the identical SQL.
    GraftQuery("q_lateral",
      (s, d) => { graft.Tables.views(s, d); s.sql(
        """SELECT c_custkey, t.o_orderkey AS top_order
          |FROM customer c,
          |LATERAL (SELECT o_orderkey FROM orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t""".stripMargin) },
      Some("""SELECT c_custkey, t.o_orderkey AS top_order
             |FROM customer c,
             |LATERAL (SELECT o_orderkey FROM orders o
             |         WHERE o.o_custkey = c.c_custkey
             |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t""".stripMargin))
  )
}
