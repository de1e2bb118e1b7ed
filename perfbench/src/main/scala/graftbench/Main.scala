package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.{Graft, SparkEntry, Tables}
import graft.operators.OpCache
import graft.sources.api.{QueryCache, ScanLedger}

/** One JVM, one client thread, one workload: set up (one or more times),
  * then run the workload's operations in a closed loop, check every output,
  * and write the measurements as JSON.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --dims DIR --expected FILE --out FILE [--spans FILE]
  *   [--setups N] [--max-ops N] [--corrupt 1]
  *   or: graftbench.Main --gen FILE --data DIR [--dump DIR]
  * --data is the directory of the entries' tables, --dims the one whose
  * `nation` and `supplier` the interactive joins read.
  */
object Main {
  private val mapper = new ObjectMapper()
  val VtabKeys = 2000000L
  val WarmStages: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "shared_index" -> graft.operators.Similarity.warmSharedIndex,
    "vecs" -> graft.operators.Similarity.warmVecs,
    "gram3" -> graft.operators.TextOps.warmGram3,
    "phash_index" -> graft.operators.Multimodal.warmPhashIndex,
    "bpe" -> graft.operators.Curation2.warmBpe,
    "staging" -> graft.streaming.Streams.warmStaging)

  /** Operations per second of --seconds, for workloads whose run length is
    * not one pass: 5/s is about the interactive mix's rate at 4 cores, so a
    * 16 s run issues the first 80 queries of the 100-query pass, 11 of them
    * from the heavy classes, and the tail percentile (p87.5) falls among
    * them. */
  val OpsPerSecond = Map("vtab_interactive" -> 5.0)

  /** Set-ups per run, by workload: the entry set-up builds every shared
    * stage (about 26 s cold), so it is set up once. */
  val DefaultSetups = Map("vtab_interactive" -> 3, "batch_and_streaming" -> 1)

  /** Light query shapes the interactive set-up runs three times, so the
    * timed loop does not pay their first planning, code generation and JIT
    * compilation. */
  val VtabPrime = Seq(
    "SELECT id, x, s, flag FROM graft.seq.numbers WHERE id = 1",
    "SELECT k, val, k2 FROM graft.seq.kv WHERE k IN (1, 2, 3)",
    "SELECT id, x, s FROM graft.seq.numbers WHERE id IN (1, 2, 3)",
    "SELECT count(*) AS c, sum(x) AS sx, max(s) AS ms FROM graft.seq.numbers WHERE id >= 0 AND id < 20000",
    s"SELECT count(*) AS c, sum(x) AS sx, max(s) AS ms FROM graft.seq.numbers WHERE ts >= ${Numbers.tsLit(0)} AND ts < ${Numbers.tsLit(20000)}",
    "SELECT id, s FROM graft.seq.numbers WHERE id >= 0 ORDER BY id LIMIT 50 OFFSET 100",
    "SELECT id, s FROM graft.seq.numbers WHERE id < 1000 ORDER BY id DESC LIMIT 50 OFFSET 100")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { if (a.contains("gen")) gen(a) else run(a); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.init(s)
  }

  def stop(s: SparkSession): Unit = {
    OpCache.release(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def touchTables(s: SparkSession, dir: String): Unit =
    Tables.all.foreach(t => Tables.t(s, dir, t).write.format("noop").mode("overwrite").save())

  /** Workload state built by set-up and read by the pass. */
  final case class Setup(s: SparkSession, pass: IndexedSeq[Op], warmMs: Map[String, Double])

  def setUp(w: String, seed: Long, dir: String, dims: String, expected: Map[String, Expected],
      corrupt: Boolean, maxOps: Int): Setup = {
    val s = session()
    val warm = mutable.LinkedHashMap[String, Double]()
    val pass: IndexedSeq[Op] = w match {
      case "vtab_interactive" =>
        Timed.configure(s, "seq", s"""{"n": $VtabKeys}""")
        Tables.t(s, dims, "nation").createOrReplaceTempView("bench_nation")
        Tables.t(s, dims, "supplier").createOrReplaceTempView("bench_supplier")
        val nations = s.sql("SELECT n_nationkey, n_name, n_regionkey FROM bench_nation").collect()
          .map(r => (r.getInt(0), r.get(1), r.getInt(2))).toSeq
        val suppliers = s.sql("SELECT s_suppkey, s_name, s_nationkey FROM bench_supplier").collect()
          .map(r => (r.get(0), r.get(1), r.getInt(2))).toSeq
        (1 to 3).foreach(_ => VtabPrime.foreach(q => s.sql(q).collect()))
        new VtabStream(seed, VtabKeys, suppliers, nations).pass
      case "batch_and_streaming" =>
        touchTables(s, dir)
        WarmStages.foreach { case (name, f) => val t0 = System.nanoTime(); f(s, dir); warm(name) = ms(t0) }
        entryPass(dir, expected, corrupt)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    QueryCache.clear()
    ScanLedger.reset()
    Setup(s, if (maxOps > 0) pass.take(maxOps) else pass, warm.toMap)
  }

  /** A `batch_and_streaming` pass, in order: the eight mandatory batch
    * entries and two st_ entries, a windowed aggregate and a restart from a
    * checkpoint (state store, WAL and commit work; all 24 st_ entries take
    * about 65 s cold, more than a run's budget). The two heaviest entries
    * run first: in a fresh JVM the first heavy entry pays for warming the
    * JIT, so a seeded order moved seconds between entries from run to run,
    * and an entry right after them still shares the cores with their JIT
    * compilation and garbage. The four shortest entries, which set the tail
    * percentile, then alternate with 3-4 s ones, so that one slow stretch of
    * the host does not reach all of them. */
  val EntryOrder = Seq("ta_pipeline_full", "ta_pipeline_curate", "dd_pipeline", "q_pagerank",
    "dd_canonical", "st_window_agg", "mm_pipeline_full", "q_triangles", "ta_bpe_learn", "st_recovery")

  /** The `batch_and_streaming` pass: EntryOrder, without a seeded sample. */
  def entryPass(dir: String, expected: Map[String, Expected], corrupt: Boolean): IndexedSeq[Op] = {
    val q = SparkEntry.queries
    EntryOrder.toIndexedSeq.zipWithIndex.map { case (n, i) =>
      val e0 = expected.getOrElse(n, throw new IllegalStateException(s"no expected output for $n"))
      val e = if (corrupt && i == 0) e0.copy(digest = Some("corrupted-digest")) else e0
      new EntryOp(n, q(n), dir, e)
    }
  }

  def readExpected(path: String): Map[String, Expected] =
    if (path == null || !Files.exists(Paths.get(path))) Map.empty
    else {
      val root = mapper.readTree(Files.readAllBytes(Paths.get(path))).get("entries")
      root.fieldNames().asScala.map { n =>
        val e = root.get(n)
        n -> Expected(e.get("rows").asLong(),
          Option(e.get("digest")).filter(d => !d.isNull && e.get("check").asText() == "digest").map(_.asText()))
      }.toMap
    }

  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** Harrell-Davis estimate of the p-quantile of sorted samples: a mean of
    * all order statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density.
    * It estimates the same percentile as the single order statistic, with
    * much less run-to-run variance when the sample is small. */
  def harrellDavis(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    if (n == 0) Double.NaN
    else if (n == 1) sorted.head
    else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      sorted.indices.map(i => sorted(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
    }
  }

  /** Counters read from the program's own globals at the loop's ends. */
  private def globals(): Map[String, Double] = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "cache_hits" -> QueryCache.hits.get.toDouble,
      "cache_misses" -> QueryCache.misses.get.toDouble,
      "plugin_scans" -> ScanLedger.scans.get.toDouble,
      "retries" -> ScanLedger.retries.get.toDouble,
      "codegen_classes" -> cg.getCount.toDouble,
      "configure_ms" -> Timed.configureMs)
  }

  final case class OpRecord(id: Long, cls: String, kind: String, label: String, start: Double,
      buildMs: Double, actionMs: Double, cpuMs: Double, ok: Boolean, error: Option[String],
      splits: Int, rowsScanned: Long) {
    def latencyMs: Double = buildMs + actionMs
    def end: Double = start + latencyMs
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Rows the connector's scan nodes returned (their numOutputRows). */
  private def rowsScanned(df: org.apache.spark.sql.DataFrame): Long = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      Plans.collectWithSubqueries(d.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.getClass.getName.startsWith("graft.") =>
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    case _ => 0L
  }

  def run(a: Map[String, String]): Unit = {
    val w = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val dir = a("data")
    val dims = a("dims")
    val setups = a.get("setups").map(_.toInt).getOrElse(DefaultSetups(w))
    val maxOps = a.getOrElse("max-ops", "0").toInt
    val corrupt = a.getOrElse("corrupt", "0") == "1"
    val expected = readExpected(a.getOrElse("expected", null))

    // set up one or more times; the last set-up's session runs the loop
    val setupMs = mutable.ArrayBuffer[Double]()
    var st: Setup = null
    (1 to setups).foreach { _ =>
      if (st != null) stop(st.s)
      val t0 = System.nanoTime()
      st = setUp(w, seed, dir, dims, expected, corrupt, maxOps)
      setupMs += ms(t0)
    }
    val spark = st.s
    val sc = spark.sparkContext
    val pass = st.pass
    // the run's length: a fixed number of operations, so both sides of a
    // comparison run the same ones
    val nOps = if (maxOps > 0) maxOps else OpsPerSecond.get(w)
      .map(r => math.ceil(seconds * r).toInt).getOrElse(pass.size)
    val streamSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(pass.map(_.label).mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())

    // the closed loop: one operation at a time, cycling through the pass
    val records = mutable.ArrayBuffer[OpRecord]()
    val g0 = globals()
    val cpu0 = cpuMs
    val t0 = Clock.nowMs
    var opId = 0L
    while (opId < nOps) {
      val op = pass((opId % pass.size).toInt)
      if (traced) {
        sc.setLocalProperty(tracer.get.OpProp, opId.toString)
        ScanLedger.lastSplitCount = -1
      }
      val start = Clock.nowMs
      val c0 = cpuMs
      var buildMs = 0.0
      var actionMs = 0.0
      var df: Option[org.apache.spark.sql.DataFrame] = None
      val outcome: Either[String, Array[Row]] =
        try {
          val b0 = System.nanoTime()
          df = op.build(spark)
          buildMs = ms(b0)
          val a0 = System.nanoTime()
          val rows = df.map(_.collect()).getOrElse(Array.empty[Row])
          actionMs = ms(a0)
          Right(rows)
        } catch {
          case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val cpu = cpuMs - c0
      val error = outcome match {
        case Left(err) => Some(err)
        case Right(rows) => op.check(rows)
      }
      val splits = if (traced) math.max(ScanLedger.lastSplitCount, 0) else 0
      val scanned = if (traced) df.map(rowsScanned).getOrElse(0L) else 0L
      records += OpRecord(opId, op.cls, op.kind, op.label, start, buildMs, actionMs, cpu,
        error.isEmpty, error, splits, scanned)
      error.foreach(e => System.err.println(s"[graftbench] ${op.label.take(120)} failed: $e"))
      if (w != "vtab_interactive") OpCache.releaseScoped(spark)
      opId += 1
    }
    val tEnd = Clock.nowMs
    val cpuEnd = cpuMs
    val gEnd = globals()
    if (traced) sc.setLocalProperty(tracer.get.OpProp, null)
    tracer.foreach(_.detach())

    // end-to-end
    val lats = records.map(_.latencyMs).sorted.toSeq
    val nLat = lats.size
    // the highest percentile with at least 10 samples beyond it
    val tailP = if (nLat == 0) 0.0 else math.max(1, nLat - 10).toDouble / nLat
    val storage = sc.getRDDStorageInfo
    val out = mapper.createObjectNode()
    out.put("workload", w); out.put("seed", seed); out.put("traced", traced)
    out.put("sf", if (w == "vtab_interactive") s"n=$VtabKeys" else Paths.get(dir).getFileName.toString)
    val fp = out.putObject("fingerprint")
    fp.put("cores", Runtime.getRuntime.availableProcessors())
    fp.put("heap_max_mb", Runtime.getRuntime.maxMemory() >> 20)
    fp.put("spark", spark.version)
    fp.put("java", System.getProperty("java.version"))
    fp.put("query_cache_rows", QueryCache.maxWeight)
    val e2e = out.putObject("end_to_end")
    e2e.put("setup_s", median(setupMs.toSeq) / 1000)
    e2e.put("wall_s", (tEnd - t0) / 1000)
    e2e.put("lat_p50_ms", harrellDavis(lats, 0.5))
    e2e.put("lat_tail_ms", harrellDavis(lats, tailP))
    e2e.put("cpu_s", (cpuEnd - cpu0) / 1000)
    e2e.put("pinned_mb", storage.map(_.memSize).sum / 1048576.0)
    e2e.put("fail_frac", if (records.isEmpty) 1.0 else records.count(!_.ok).toDouble / records.size)
    out.put("tail_percentile", 100 * tailP)
    out.put("tail_beyond", nLat - math.round(tailP * nLat))
    out.put("latency_samples", nLat)
    out.put("pass_size", pass.size)
    out.put("attempted", records.size)
    out.put("failed", records.count(!_.ok))
    out.put("timed_s", (tEnd - t0) / 1000)
    val sArr = out.putArray("setup_ms"); setupMs.foreach(x => sArr.add(x))
    out.put("stream_sha", streamSha)
    val failures = out.putArray("failures")
    records.filterNot(_.ok).take(50).foreach { r =>
      failures.addObject().put("op", r.label.take(200)).put("error", r.error.getOrElse(""))
    }
    val opsArr = out.putArray("ops")
    records.take(2000).foreach { r =>
      opsArr.addObject().put("cls", r.cls).put("ms", r.latencyMs).put("build_ms", r.buildMs)
        .put("cpu_ms", r.cpuMs).put("ok", r.ok)
    }
    val byKind = out.putObject("by_kind")
    records.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      byKind.putObject(k).put("n", rs.size).put("p50_ms", median(rs.map(_.latencyMs).toSeq))
        .put("max_ms", rs.map(_.latencyMs).max)
    }

    tracer.foreach { tr =>
      // per-layer values are totals over the timed operations
      val layer = out.putObject("per_layer")
      def put(k: String, v: Double): Unit = layer.put(k, v)
      def gd(k: String) = gEnd(k) - g0(k)
      val complete = records.toSeq
      // events outside the timed operations (set-up) are dropped
      val cpOps = complete.map(_.id).toSet
      // place unlinked events in the operation whose interval holds them
      val starts = records.map(_.start).toArray
      def opAt(t: Double): Long = {
        val i = java.util.Arrays.binarySearch(starts, t) match { case j if j >= 0 => j; case j => -j - 2 }
        if (i >= 0 && t <= records(i).end + 1) records(i).id else -1L
      }
      def resolve(op: Long, t: Double) = if (op >= 0) op else opAt(t)
      val spans = tr.spans.asScala.toSeq.map(s => s.copy(op = resolve(s.op, s.start)))
        .filter(s => cpOps(s.op))
      val tasks = tr.tasks.asScala.toSeq.filter(t => cpOps(resolve(t.op, t.time)))
      val stages = tr.stages.asScala.toSeq.count { case (op, t) => cpOps(resolve(op, t)) }
      val trig = tr.triggers.asScala.toSeq.filter(t => cpOps(opAt(t.start)))
      val hits = gd("cache_hits"); val misses = gd("cache_misses")
      put("sources.api.splits", complete.map(_.splits.toDouble).sum)
      put("sources.api.plugin_scans", gd("plugin_scans"))
      put("sources.api.retries", gd("retries"))
      put("sources.api.cache_hits", hits)
      put("sources.api.cache_misses", misses)
      put("sources.api.cache_hit_ratio", if (hits + misses > 0) hits / (hits + misses) else 0.0)
      put("sources.api.cache_rows", QueryCache.currentWeight.toDouble)
      put("sources.api.rows_scanned", complete.map(_.rowsScanned.toDouble).sum)
      put("sources.api.configure_ms", gd("configure_ms"))
      Seq("analysis", "optimization", "planning").foreach { ph =>
        put(s"catalyst.${ph}_ms", spans.filter(_.name == s"catalyst.$ph").map(_.dur).sum)
      }
      put("catalyst.executions", tr.executions.asScala.count(t => cpOps(opAt(t))))
      val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      put("codegen.classes", gd("codegen_classes"))
      put("codegen.compile_ms_est", gd("codegen_classes") * cg.getSnapshot.getMean)
      val jobs = spans.filter(_.name == "exec.job")
      put("exec.jobs", jobs.size)
      put("exec.stages", stages)
      put("exec.tasks", tasks.size)
      put("exec.task_run_ms", tasks.map(_.runMs).sum)
      put("exec.task_cpu_ms", tasks.map(_.cpuMs).sum)
      put("exec.task_gc_ms", tasks.map(_.gcMs).sum)
      put("exec.shuffle_write_mb", tasks.map(_.shuffleWriteB).sum / 1048576.0)
      put("exec.spill_mb", tasks.map(_.spillB).sum / 1048576.0)
      val jobsByOp = jobs.groupBy(_.op)
      put("exec.driver_only_ms", complete.map { r =>
        r.latencyMs - SpanMath.covered(jobsByOp.getOrElse(r.id, Nil).map(j => (j.start, j.end)), r.start, r.end)
      }.sum)
      val opWall = complete.map(_.latencyMs).sum
      put("exec.core_util", if (opWall > 0) tasks.map(_.runMs).sum /
        (Runtime.getRuntime.availableProcessors() * opWall) else 0.0)
      put("operators.build_ms", complete.map(_.buildMs).sum)
      put("operators.action_ms", complete.map(_.actionMs).sum)
      WarmStages.foreach { case (n, _) => put(s"operators.warm_ms.$n", st.warmMs.getOrElse(n, 0.0)) }
      put("operators.pinned_rdds", storage.length.toDouble)
      val stOps = complete.filter(_.kind == "st")
      val trigMs = trig.map(_.triggerMs).sum
      put("streaming.batches", trig.size)
      put("streaming.trigger_ms", trigMs)
      put("streaming.add_batch_ms", trig.map(_.addBatchMs).sum)
      put("streaming.wal_commit_ms", trig.map(_.walCommitMs).sum)
      put("streaming.outside_batch_ms", if (stOps.isEmpty) 0.0 else (stOps.map(_.latencyMs).sum - trigMs))
      put("streaming.state_commit_ms", trig.map(_.stateCommitMs).sum)
      put("streaming.state_rows", trig.groupBy(_.runId).values
        .map(ts => ts.maxBy(_.batchId).stateRows).sum)
      // self time per layer, over every operation's span tree
      val bySpanOp = spans.groupBy(_.op)
      val self = complete.flatMap { r =>
        val a0 = r.start + r.buildMs
        val own = Seq(Span("op", r.id, r.start, r.end), Span("operators.build", r.id, r.start, a0),
          Span("operators.action", r.id, a0, r.end))
        SpanMath.selfTimes(own ++ bySpanOp.getOrElse(r.id, Nil)).toSeq
      }.groupMapReduce(_._1)(_._2)(_ + _)
      Seq("operators.build", "operators.action", "streaming.trigger", "exec.job", "catalyst")
        .foreach(l => put(s"selftime_ms.$l", self.getOrElse(l, 0.0)))
      put("trace.spans", (spans.size + 3 * complete.size).toDouble)
      a.get("spans").foreach { path =>
        val arr = mapper.createArrayNode()
        complete.foreach { r =>
          val a0 = r.start + r.buildMs
          Seq(("op", r.start, r.end), ("operators.build", r.start, a0), ("operators.action", a0, r.end))
            .foreach { case (n, s0, s1) =>
              arr.addObject().put("name", n).put("op", r.id).put("start", s0).put("end", s1)
                .put("label", if (n == "op") r.label.take(200) else "")
            }
        }
        spans.foreach(s => arr.addObject().put("name", s.name).put("op", s.op).put("start", s.start).put("end", s.end))
        Files.writeString(Paths.get(path), mapper.writeValueAsString(arr))
      }
    }
    Files.writeString(Paths.get(a("out")), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    stop(spark)
  }

  /** Records each non-vt_ entry's row count and digest, and optionally dumps
    * each result as parquet for the DuckDB oracle check (gen_expected.py). */
  def gen(a: Map[String, String]): Unit = {
    val dir = a("data")
    val s = session()
    touchTables(s, dir)
    WarmStages.foreach { case (_, f) => f(s, dir) }
    val out = mapper.createObjectNode()
    val entries = out.putObject("entries")
    SparkEntry.queries.keys.filterNot(_.startsWith("vt_")).toSeq.sorted.foreach { n =>
      val e = entries.putObject(n)
      try {
        val df = SparkEntry.queries(n)(s, dir)
        val rows = df.collect()
        e.put("rows", rows.length.toLong).put("digest", Digest.digest(rows))
        SparkEntry.oracleSql.get(n).foreach(e.put("oracle_sql", _))
        a.get("dump").foreach { d =>
          s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$d/$n")
        }
      } catch {
        case ex: Throwable =>
          e.put("error", s"${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(300)}")
      }
      OpCache.releaseScoped(s)
    }
    Files.writeString(Paths.get(a("gen")), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    stop(s)
  }
}
