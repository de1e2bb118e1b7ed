package graft.operators

import graft.GraftQuery
import graft.sources.api.GraftConfigure
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.2 — the virtual-table/connector layer exercised through the
  * public read path. The `seq` demo plugin is a deterministic functional
  * API (row = f(key)), so DuckDB reproduces the data via range() and the
  * driver's oracle hash-checks connector semantics end to end. */
object VTab {

  private def numbers(s: SparkSession): DataFrame =
    s.read.format("graft").option("plugin", "seq").option("table", "numbers").load()

  /** All computed columns of `numbers` for row ids drawn from `src`
    * (DuckDB side; mirrors NumbersTable's column generators exactly). */
  private def duckNumbers(src: String): String =
    s"""SELECT i AS id, (i * 7) % 97 AS x, 'row_' || i AS s, i % 2 = 0 AS flag,
       |  i / 100.0 AS ratio,
       |  TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 minute' AS ts,
       |  '{"k":' || (i % 10) || '}' AS j,
       |  '10.' || ((i // 65536) % 256) || '.' || ((i // 256) % 256) || '.' || (i % 256) AS ip,
       |  '192.168.' || (i % 256) || '.0/24' AS cidr,
       |  'root.n' || (i % 10) || '.leaf' AS path
       |FROM $src t(i)""".stripMargin

  val defs: Seq[GraftQuery] = Seq(

    // 32. full scan through the connector: schema mapping + row conversion.
    GraftQuery("vt_scan",
      (s, d) => numbers(s).select("id", "x", "s", "flag", "ratio"),
      Some("""SELECT i AS id, (i * 7) % 97 AS x, 'row_' || i AS s,
             |  i % 2 = 0 AS flag, i / 100.0 AS ratio
             |FROM range(0, 10000) t(i)""".stripMargin)),

    // 33. qual pushdown: the id range reaches the plugin (splits narrow to
    // one page — spec-asserted); non-key quals are re-checked both sides.
    GraftQuery("vt_pushdown_quals",
      (s, d) => numbers(s)
        .filter(col("id") >= 2000L && col("id") < 2100L && col("flag") === true)
        .select("id", "x", "flag", "s"),
      Some("""SELECT i AS id, (i * 7) % 97 AS x, i % 2 = 0 AS flag, 'row_' || i AS s
             |FROM range(2000, 2100) t(i) WHERE i % 2 = 0""".stripMargin)),

    // 34. LIMIT pushdown (safe path: key-only quals). Deterministic because
    // the pushed key range fits one ordered split.
    GraftQuery("vt_limit",
      (s, d) => numbers(s).filter(col("id") >= 100L).select("id", "s").limit(50),
      Some("SELECT i AS id, 'row_' || i AS s FROM range(100, 150) t(i)")),

    // 35. column pruning: only (id, j) cross the connector (spec asserts
    // the plugin saw exactly these columns).
    GraftQuery("vt_column_prune",
      (s, d) => numbers(s)
        .select(col("id"), get_json_object(col("j"), "$.k").cast("long").as("jk"))
        .filter(col("id") < 500L),
      Some("""SELECT i AS id, i % 10 AS jk FROM range(0, 500) t(i)""".stripMargin)),

    // 36. the full reference type surface over the connector
    // (mapping.go:66-84): bool/int/double/string/timestamp/json/ip/cidr/ltree.
    GraftQuery("vt_types",
      (s, d) => numbers(s).filter(col("id") < 100L),
      Some(duckNumbers("range(0, 100)"))),

    // 39. connection config → different table contents (reference
    // configure_fn.go). Applied via GraftConfigure on a dedicated alias so
    // other queries' config snapshots are untouched.
    GraftQuery("vt_configure", (s, d) => {
      GraftConfigure.configure(s, "seq", """{"n": 700, "tag": "round1"}""")
      val df = numbers(s).select("id", "x")
      GraftConfigure.configure(s, "seq", """{"n": 10000}""")
      df
    },
      Some("SELECT i AS id, (i * 7) % 97 AS x FROM range(0, 700) t(i)")),

    // 40. TableCatalog path: SQL over graft.<plugin>.<table> (the Spark
    // analog of the reference's dynamically registered vtables).
    GraftQuery("vt_catalog", (s, d) => {
      s.sql("SELECT id, s, ratio FROM graft.seq.numbers WHERE id >= 9990")
    },
      Some("SELECT i AS id, 'row_' || i AS s, i / 100.0 AS ratio FROM range(9990, 10000) t(i)")),

    // 41c. the reference's config-table UX (test.sql:1-8): INSERT INTO the
    // per-plugin config table applies connection config (DSv2 write path,
    // commit on the driver).
    GraftQuery("vt_config_table", (s, d) => {
      s.sql("""INSERT INTO graft.seq.config VALUES ('{"n": 600}')""")
      val df = numbers(s).select("id", "s") // snapshots n=600 at load
      s.sql("""INSERT INTO graft.seq.config VALUES ('{"n": 10000}')""")
      df
    },
      Some("SELECT i AS id, 'row_' || i AS s FROM range(0, 600) t(i)")),

    // 41d. HCL connection-config parity: the reference's configure accepts
    // JSON or HCL (configure_fn.go:57-75; test.sql:6-8 inserts
    // `profile = "silverwater"`). Same writable config table, config text
    // in HCL attribute form — comments, string/array extras, and the n
    // override all apply through the same path as JSON.
    GraftQuery("vt_config_hcl", (s, d) => {
      s.sql("""INSERT INTO graft.seq.config VALUES ('
              |  # connection options (HCL attribute form, reference test.sql:6-8)
              |  profile = "silverwater"
              |  regions = ["us-east-1", "us-west-2"]
              |  n       = 700  // row-domain override
              |')""".stripMargin)
      val df = numbers(s).select("id", "s") // snapshots n=700 at load
      s.sql("""INSERT INTO graft.seq.config VALUES ('{"n": 10000}')""")
      df
    },
      Some("SELECT i AS id, 'row_' || i AS s FROM range(0, 700) t(i)")),

    // 41b. multi-plugin registry: a second plugin (metrics) with a required
    // series key + t-range pushdown, queried through the same catalog.
    GraftQuery("vt_multi_plugin", (s, d) => {
      s.sql("""SELECT t, value, tag FROM graft.metrics.series
              |WHERE series_id = 3 AND t >= 100 AND t < 600""".stripMargin)
    },
      Some("""SELECT i AS t, ((i * i * 31 + 51) % 1000) / 10.0 AS value, 's3' AS tag
             |FROM range(100, 600) t(i)""".stripMargin)),

    // 33b. IN-list pushdown: `id IN (...)` — the most common API-key
    // predicate — reaches the plugin as one probe split per value (the
    // SQLite `=`-probe decomposition, reference table.go:127-151) instead
    // of a full pagination (spec asserts the split count).
    GraftQuery("vt_in_pushdown",
      (s, d) => numbers(s)
        .filter(col("id").isin(3L, 99L, 4242L, 9001L))
        .select("id", "x", "s"),
      Some("""SELECT i AS id, (i * 7) % 97 AS x, 'row_' || i AS s
             |FROM (SELECT unnest([3, 99, 4242, 9001]) AS i) t""".stripMargin)),

    // 33c. typed (timestamp) qual pushdown: an event-time range narrows the
    // plugin fetch (reference mapping.go:108-158 parses TIMESTAMP quals for
    // the same reason) — without it, a cloud-API table would paginate the
    // whole account to answer a one-hour window.
    GraftQuery("vt_ts_pushdown",
      (s, d) => numbers(s)
        .filter(col("ts") >= lit("2024-01-01 05:00:00").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-01 06:00:00").cast("timestamp_ntz"))
        .select("id", "ts", "x"),
      Some("""SELECT i AS id, TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 minute' AS ts,
             |  (i * 7) % 97 AS x
             |FROM range(300, 360) t(i)""".stripMargin)),

    // 33d. runtime filtering (DSv2 SupportsRuntimeV2Filtering — the v2
    // analog of dynamic partition pruning): numbers is the probe side of a
    // broadcast join against a FILTERED dim; Spark materializes the dim
    // first and hands its 5 join keys to the scan as a runtime IN, which
    // the plugin turns into 5 probe splits instead of paginating all 10k
    // rows (spec asserts the split count + the runtime qual).
    GraftQuery("vt_runtime_filter", (s, d) => {
      val dim = graft.Tables.t(s, d, "nation")
        .filter(col("n_regionkey") === 1L).select(col("n_nationkey"))
      numbers(s).join(dim, col("id") === col("n_nationkey"))
        .select("id", "x", "s")
    },
      Some("""SELECT i AS id, (i * 7) % 97 AS x, 'row_' || i AS s
             |FROM range(0, 10000) t(i)
             |JOIN nation ON i = n_nationkey
             |WHERE n_regionkey = 1""".stripMargin)),

    // 33e. aggregate pushdown (DSv2 SupportsPushDownAggregates, partial
    // mode): COUNT/MIN/MAX over a key range are answered by the plugin in
    // closed form — one partial row per split, Spark merges — so the
    // "how many rows match" question costs zero pagination (spec asserts
    // scan() was never called). The API analog of a count endpoint.
    GraftQuery("vt_agg_pushdown",
      (s, d) => numbers(s)
        .filter(col("id") >= 1000L && col("id") < 9000L)
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id")),
      Some("""SELECT COUNT(*) AS n, MIN(i) AS min_id, MAX(i) AS max_id
             |FROM range(1000, 9000) t(i)""".stripMargin)),

    // 33f. TopN pushdown (DSv2 SupportsPushDownTopN, FULL push): ORDER BY
    // on an ordered key column + LIMIT becomes one sorted page fetch —
    // the `?sort=key&per_page=n` API shape. Spark removes its own
    // Sort+Limit entirely (spec asserts one split + no Sort in the plan);
    // a cloud-API "latest 7 events" costs one page, not a full pagination
    // feeding a cluster-wide sort.
    GraftQuery("vt_topn_pushdown",
      (s, d) => numbers(s).filter(col("id") < 5000L)
        .select("id", "x", "s").orderBy(col("id").desc).limit(7),
      Some("""SELECT i AS id, (i * 7) % 97 AS x, 'row_' || i AS s
             |FROM range(4993, 5000) t(i)""".stripMargin)),

    // 33g. OFFSET pushdown (DSv2 SupportsPushDownOffset): LIMIT n OFFSET m
    // rides the accepted TopN as a page start — `?page=m/n&per_page=n`
    // answered at the source, zero rows skipped Spark-side.
    GraftQuery("vt_offset_pushdown", (s, d) => {
      s.sql("""SELECT id, ts, x FROM graft.seq.numbers
              |ORDER BY ts LIMIT 50 OFFSET 1200""".stripMargin)
    },
      Some("""SELECT i AS id,
             |  TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL '1 minute' AS ts,
             |  (i * 7) % 97 AS x
             |FROM range(1200, 1250) t(i)""".stripMargin)),

    // 39b. dynamic schema refresh: the `dyn` plugin's schema depends on
    // connection config; after configure, `graft.dyn.wide` resolves the
    // NEW column set (reference configure_fn.go:104-125 drops/recreates
    // vtables on reconfigure).
    GraftQuery("vt_dynamic_schema", (s, d) => {
      GraftConfigure.configure(s, "dyn", """{"cols": "alpha,beta,gamma"}""")
      val df = s.sql("SELECT id, alpha, beta, gamma FROM graft.dyn.wide WHERE id < 200")
      GraftConfigure.configure(s, "dyn", """{"cols": "a"}""")
      df
    },
      Some("""SELECT i AS id, i * 2 AS alpha, i * 3 AS beta, i * 4 AS gamma
             |FROM range(0, 200) t(i)""".stripMargin)),

    // 33i. LIKE-prefix pushdown: `s LIKE 'row_123%'` reaches the plugin as
    // a StringStartsWith qual, and because `s` embeds the key the prefix
    // INVERTS to exact key ranges — one per decimal magnitude (123,
    // 1230-1239, ...) — instead of a full pagination + residual LIKE.
    // The API "name begins with" filter answered at the source.
    GraftQuery("vt_like_pushdown",
      (s, d) => numbers(s).filter(col("s").startsWith("row_123"))
        .select("id", "s", "x"),
      Some("""SELECT i AS id, 'row_' || i AS s, (i * 7) % 97 AS x
             |FROM range(0, 10000) t(i)
             |WHERE ('row_' || i) LIKE 'row_123%'""".stripMargin)),

    // 89b. config-declared plugin (reference generator parity,
    // generate/generator.go:23 + templates/main.go.tmpl): the `rest`
    // plugin exists ONLY as src/main/resources/graft/plugins/rest_demo.json
    // — schema, key column, page size and per-column generator terms as
    // data, interpreted by the one generic DeclaredTable. The scan below
    // flows through the identical pushdown path as the hand-written
    // plugins: the id range narrows splits, `active` stays residual,
    // columns prune.
    GraftQuery("vt_declared",
      (s, d) => s.read.format("graft")
        .option("plugin", "rest").option("table", "users").load()
        .filter(col("id") >= 100L && col("id") < 400L && col("active") === true)
        .select("id", "org", "name", "score"),
      Some("""SELECT i AS id, i % 7 AS org, 'user_' || i AS name,
             |  i / 100.0 AS score
             |FROM range(100, 400) t(i) WHERE i % 3 = 0""".stripMargin)),

    // 93b. DATE qual pushdown end to end (reference constants.go:6
    // DATEONLY + mapping.go:108-158 date-qual parsing): a DateType range
    // reaches the declared `days` table as epoch-days Longs
    // (GraftScanBuilder.qualOf), inverts through the `date:` key term to an
    // exact row-key range, and splits() plans exactly the February page —
    // spec-asserted via ScanLedger.
    GraftQuery("vt_date_pushdown",
      (s, d) => s.read.format("graft")
        .option("plugin", "rest").option("table", "days").load()
        .filter(expr("day >= DATE'2024-02-01' AND day < DATE'2024-03-01'"))
        .select("day", "qty"),
      Some("""SELECT DATE '2024-01-01' + CAST(i AS INTEGER) AS day,
             |  (i * 13) % 101 AS qty
             |FROM range(0, 400) t(i)
             |WHERE DATE '2024-01-01' + CAST(i AS INTEGER) >= DATE '2024-02-01'
             |  AND DATE '2024-01-01' + CAST(i AS INTEGER) < DATE '2024-03-01'""".stripMargin)),

    // 33h. transient-failure retry: every split of the `flaky` table fails
    // its first scan attempt with a simulated rate limit; the scan layer's
    // split-granularity retry (GraftReaderFactory, reference SDK
    // RetryConfig analog) re-fetches and the result is still complete and
    // bit-exact. Spec asserts the retries actually happened.
    GraftQuery("vt_retry",
      (s, d) => s.read.format("graft").option("plugin", "seq")
        .option("table", "flaky").load(),
      Some("SELECT i AS id, (i * 13) % 101 AS x FROM range(0, 10000) t(i)"))
  )
}
