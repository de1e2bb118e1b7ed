package graft.streaming

import graft.{GraftQuery, Exact}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

/** SURVEY §2.4 — Structured Streaming over the events table. Each entry
  * drives a real streaming query through `run` (start → drain every
  * available input → stop) and returns its sink's contents, so the
  * batch oracle can hash-check streaming semantics. */
object Streams {
  import Exact._

  private val runId = new AtomicLong(0)

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = rawEvents(s, d).schema
    // glob (not a bare file path): FileStreamSource requires a directory or
    // pattern to poll, exactly like a landing bucket in production. The ts
    // layout varies by driver generation (nanos BIGINT vs TIMESTAMP_NTZ);
    // Tables.tsNormalized dispatches on the loaded schema so every stream
    // sees one TimestampType column either way.
    graft.Tables.tsNormalized(
      s.readStream.schema(schema).option("basePath", d).parquet(s"$d/events.*"))
  }

  /** The documents corpus as a file stream (the text-ingest analog of
    * eventsStream — no ts column, so no normalization leg). */
  private def docsStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    s.readStream.schema(schema).option("basePath", d).parquet(s"$d/documents.*")
  }

  /** The lineitem fact table as a file stream (st_quantile's input). */
  private def liStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/lineitem.parquet").schema
    s.readStream.schema(schema).option("basePath", d).parquet(s"$d/lineitem.*")
  }

  /** A ts literal in the RAW on-disk layout of `raw`'s ts column, for
    * staging sentinel/tick rows next to copied source files: a file-stream
    * source reads every staged file with ONE schema, so synthetic rows must
    * be written in the same physical layout as the copied raw parquet. */
  private def tsLitLike(raw: DataFrame, micros: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => lit(micros * 1000L) // nanos-as-long layout
      case TimestampNTZType => expr(s"cast(timestamp_micros(${micros}L) as timestamp_ntz)")
      case _ => expr(s"timestamp_micros(${micros}L)")
    }
  }

  /** Checkpoint root for the deterministic replay harness. Every
    * micro-batch pays WAL/offset/state-store commit round-trips into the
    * checkpoint dir; for a memory-sink replay that is stopped and
    * discarded these are pure scratch. The library DEFAULT is the local
    * tmpdir (a deployment that forgets the override gets node-local disk,
    * not silent RAM-durability); the bench/verify harnesses opt into
    * tmpfs explicitly via useTmpfsCheckpoints (guide §6 — the replay's
    * checkpoints are scratch by construction). A production stream sets
    * `spark.graft.stream.checkpointDir` to durable storage (and entries
    * whose SEMANTICS are the checkpoint — st_recovery's restart — keep
    * their own explicit dirs). Each run's dir is removed after stop
    * (deleteTree), which also closes the scratch leak Spark's best-effort
    * auto-temp checkpoints had.
    *
    * The per-run names come from a per-JVM counter, so the root is made
    * PER-PROCESS (pid suffix): two concurrent JVMs would otherwise both
    * start at graft_stream_1 and the stale-dir wipe below could destroy
    * the OTHER process's live checkpoint mid-query. The wipe can now only
    * ever hit this process's own dirs. */
  private[streaming] def ckptDir(s: SparkSession, name: String): String = {
    val base = s.conf.get("spark.graft.stream.checkpointDir",
      sys.props("java.io.tmpdir") + "/graft_ckpt")
    sweepDeadPidRoots(base)
    val p = Paths.get(base, s"p${ProcessHandle.current().pid()}", name)
    deleteTree(p.toString) // wipe a stale dir from an interrupted prior run
    Files.createDirectories(p)
    p.toString
  }

  /** Reclaim sibling p<pid> roots whose owning process is no longer
    * alive (a crashed/killed JVM leaves its dirs behind; with per-process
    * roots no later run's own stale-wipe would ever touch them). Safe by
    * construction: only dirs of DEAD pids are removed, and a reused pid's
    * new owner re-creates its dirs after this sweep. Once per (JVM, base). */
  private val sweptBases = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def sweepDeadPidRoots(base: String): Unit =
    if (sweptBases.add(base)) {
      val b = Paths.get(base)
      if (Files.isDirectory(b)) {
        val ls = Files.list(b)
        try ls.forEach { q =>
          val n = q.getFileName.toString
          if (n.startsWith("p") && n.drop(1).forall(_.isDigit) &&
              n.drop(1).nonEmpty &&
              n.drop(1).toLongOption.exists(pid =>
                pid != ProcessHandle.current().pid() &&
                  !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)))
            try deleteTree(q.toString) catch { case _: Exception => () }
        } finally ls.close()
      }
    }

  /** Harness opt-in (`SparkEntry.each`): point the replay
    * checkpoints at tmpfs when available and no explicit dir is set. */
  def useTmpfsCheckpoints(s: SparkSession): Unit =
    if (s.conf.getOption("spark.graft.stream.checkpointDir").isEmpty &&
        Files.isWritable(Paths.get("/dev/shm")))
      s.conf.set("spark.graft.stream.checkpointDir", "/dev/shm/graft_ckpt")

  /** Recursive delete; a missing `dir` is a no-op. */
  private[streaming] def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach((q: Path) => Files.delete(q))
      finally walk.close()
    }
  }

  /** Streaming state width, a constant: it locks into the checkpoint at
    * first start and should be sized to the STREAM rate, not inherited
    * from the session's batch shuffle width — a batch width tuned for
    * TB-scale scans scatters a replay's state into hundreds of near-empty
    * state-store files whose per-batch commit I/O dominates (measured:
    * 32 → 8 partitions halves stream entries at sf0.1; r14 width sweep
    * over the 5 heaviest entries at 32 cores: 16/8/4/2 monotone down to a
    * knee at 4 — e.g. st_interval_join 2.64/2.19/1.68/1.62 s, st_late_data
    * 3.23/2.81/2.22/2.26 s — so the replay width is 4). Scoped to the
    * query start; batch plans are untouched. */
  private val StateWidth = "spark.sql.shuffle.partitions" -> "4"

  /** The one stream lifecycle: start `w` (named, with its checkpoint)
    * under the start-time `confs` — restored right after start — drain
    * every available input, stop, and record the final state-store size.
    * Stop runs in `finally`: a throwing batch ends its query by itself,
    * but a throw on the caller's side (an interrupted drain) would
    * otherwise leave the query running on a shared session. The checkpoint is scratch (a fresh
    * ckptDir, dropped in `finally` — with unique run names no later
    * stale-wipe would ever reclaim a leaked one) unless the caller passes
    * its own in `keptCkpt` (st_recovery's restart). Returns the query
    * name, which is the memory sink's table name. */
  private[streaming] def run(s: SparkSession, w: DataStreamWriter[_],
      confs: Seq[(String, String)] = Nil, keptCkpt: Option[String] = None): String = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val ckpt = keptCkpt.getOrElse(ckptDir(s, name))
    try {
      val q = graft.Scoped.withConf(s, confs: _*)(
        w.queryName(name).option("checkpointLocation", ckpt).start())
      try {
        q.processAllAvailable()
        // expose the final state-store size for the boundedness spec
        lastStateRows = q.recentProgress.toSeq
          .flatMap(_.stateOperators.map(_.numRowsTotal)).lastOption.getOrElse(-1L)
      } finally q.stop()
    } finally if (keptCkpt.isEmpty) deleteTree(ckpt)
    name
  }

  /** Run `df` into a memory sink at the replay's state width and return
    * the sink table.
    *
    * noDataBatches=false skips the zero-input micro-batch Spark schedules
    * after a watermark advance. That batch exists to EMIT results a
    * watermark unlocks (append-mode aggregations) and to evict state —
    * for an operator whose results emit eagerly in the data batch (inner
    * stream-stream interval join), it re-runs the whole stateful plan for
    * nothing (measured: 0.9 s of the old 2.3 s at sf0.1). Entries whose
    * final windows flush on watermark advance must keep it true. */
  private def runToTable(s: SparkSession, df: DataFrame, mode: OutputMode,
      noDataBatches: Boolean = true): DataFrame =
    s.table(run(s, df.writeStream.outputMode(mode).format("memory"), Seq(StateWidth,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString)))

  /** numRowsTotal of the last state operator of the last run (spec hook:
    * proves sessionization state is O(users), not O(events)). */
  @volatile var lastStateRows: Long = -1L

  final case class Ev(user_id: Long, event_id: Long, us: Long)
  /** Like Ev but keeps the watermarked timestamp column: event-time timeout
    * requires the watermark attribute to survive into the grouped Dataset. */
  final case class EvW(user_id: Long, event_id: Long, us: Long, ts: java.sql.Timestamp)
  final case class Sess(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)
  /** O(1) per-user sessionization state: only the OPEN session. */
  final case class OpenSess(session_id: Long, start_us: Long, last_us: Long,
      n_events: Long)

  /** The far-future watermark-advancing sentinel's event time
    * (2100-01-01T00:00Z, epoch micros) — ONE constant shared by every
    * staging helper that writes the sentinel row and every sink filter
    * that drops it, so the date can never drift between a producer and a
    * consumer (a moved sentinel leaking past a stale literal filter shows
    * up as a confusing one-extra-row oracle diff). */
  private[streaming] val SentinelMicros = 4102444800000000L

  /** Fixed scratch dir per (dataset, kind), WIPED before reuse. Fresh
    * createTempDirectory scratch leaked one full staged replay per JVM
    * run — 37 GB of /tmp after a round of sf10 tooling runs, until
    * entries started dying with "No space left on device". A fixed path
    * bounds the footprint to ONE live copy per (dataset, kind); the wipe
    * keeps re-staging correct across code rounds (a stale checkpoint or
    * replay from an older plan must never be resumed). Bench/Verify
    * discipline is single-JVM (concurrent JVMs contaminate timings
    * anyway), so cross-process clobbering is out of contract. */
  private def scratchDir(d: String, kind: String): Path = {
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${kind}_${java.lang.Integer.toHexString(d.hashCode)}")
    deleteTree(p.toString)
    Files.createDirectories(p)
  }

  /** One file of a staged replay: its name in the staged dir, its mtime
    * `ageMs` before now (maxFilesPerTrigger=1 + mtime spacing make the
    * batch boundaries, and therefore the watermark sequence, fully
    * deterministic), and its bytes — a source file copied as-is (Left) or
    * a DataFrame written as one parquet file (Right). */
  private final case class Part(name: String, ageMs: Long, src: Either[String, DataFrame])

  /** Write `p` into the staged dir `dir` of replay `kind` over `d`. */
  private def put(d: String, kind: String, dir: Path, p: Part): Unit = {
    val dst = dir.resolve(p.name)
    p.src match {
      case Left(file) => Files.copy(Paths.get(file), dst)
      case Right(df) =>
        val tmp = scratchDir(d, s"${kind}_part")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val ls = Files.list(tmp)
        try Files.copy(ls.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get(), dst)
        finally ls.close()
    }
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - p.ageMs))
  }

  /** Stage replay `kind` over `d` once per session (an OpCache memo): its
    * `parts` into a fresh scratch dir, whose path every later call reuses. */
  private def stage(s: SparkSession, d: String, kind: String)(parts: => Seq[Part]): String =
    graft.operators.OpCache.memo(s, s"stage|$kind|$d") {
      val dir = scratchDir(d, s"${kind}_src")
      parts.foreach(put(d, kind, dir, _))
      dir.toString
    }

  private def rawEvents(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/events.parquet") // ts in raw on-disk layout

  /** Two mtime-ordered batches of `df`: the rows where `first` holds,
    * then the rest. */
  private def twoBatches(df: DataFrame, first: org.apache.spark.sql.Column,
      names: (String, String)): Seq[Part] =
    Seq(Part(names._1, 120000, Right(df.filter(first))),
      Part(names._2, 60000, Right(df.filter(!first))))

  /** `events.parquet` plus one far-future sentinel event (user -1). The
    * sentinel advances the event-time watermark past every real event
    * after the real batch commits, so every open session times out and
    * flushes through the NORMAL timeout path — the finite replay ends
    * exactly like an infinite stream would, with no special-case
    * end-of-stream logic in the operator. */
  private def stageWithSentinel(s: SparkSession, d: String): String =
    stage(s, d, "sess") {
      val raw = rawEvents(s, d)
      Seq(Part("events.parquet", 60000, Left(s"$d/events.parquet")),
        Part("zz_sentinel.parquet", 0, Right(raw.limit(1)
          .withColumn("user_id", lit(-1L)).withColumn("event_id", lit(-1L))
          .withColumn("ts", tsLitLike(raw, SentinelMicros)))))
    }

  /** A deterministic 4-batch replay for the late-data entry:
    * 00_ontime = even users, 01_tick = one clock-only row (Spark's late
    * filter uses the watermark from TWO commits back — SPARK-40925 made
    * late filtering lag eviction by one batch so chained stateful
    * operators see consistent watermarks; the tick batch lets the on-time
    * watermark reach the late filter before the late file arrives),
    * 02_late = odd users (now genuinely filtered against the on-time
    * watermark), zz_sentinel = one year-2100 event (flushes every
    * surviving window through the normal eviction path).
    *
    * The tick and sentinel rows flow through the aggregation UNFILTERED:
    * a pre-agg filter would be pushed below the EventTimeWatermark node
    * into the scan, and rows filtered at the scan never reach the
    * event-time stats — the sentinel would stop advancing the clock.
    * Instead both rows are constructed to be harmless: the tick lands in
    * the first window with value 0.00 at the corpus epoch (the oracle
    * mirrors that one row), and the sentinel's year-2100 window can never
    * be passed by the watermark, so it never emits in Append mode. */
  private def stageLate(s: SparkSession, d: String): String =
    stage(s, d, "late") {
      val raw = rawEvents(s, d)
      Seq(Part("00_ontime.parquet", 180000, Right(raw.filter(col("user_id") % 2 === 0))),
        Part("01_tick.parquet", 120000, Right(raw.limit(1)
          .withColumn("user_id", lit(-2L)).withColumn("event_id", lit(-2L))
          .withColumn("event_type", lit("tick")).withColumn("value", lit(0.0))
          .withColumn("ts", tsLitLike(raw, 1704067200000000L)))), // 2024-01-01T00:00Z
        Part("02_late.parquet", 60000, Right(raw.filter(col("user_id") % 2 =!= 0))),
        Part("zz_sentinel.parquet", 0, Right(raw.limit(1)
          .withColumn("user_id", lit(-1L)).withColumn("event_id", lit(-1L))
          .withColumn("event_type", lit("sentinel")).withColumn("value", lit(0.0))
          .withColumn("ts", tsLitLike(raw, SentinelMicros)))))
    }

  /** A deterministic 2-batch replay: even users, then odd users. */
  private def stageEvensOdds(s: SparkSession, d: String): String =
    stage(s, d, "eo")(twoBatches(rawEvents(s, d), col("user_id") % 2 === 0,
      ("00_evens.parquet", "01_odds.parquet")))

  /** st_cdc's staging: two batches split by EVENT id parity (not user id —
    * a key's changes must land in BOTH batches, or the standing-target
    * merge never exercises a cross-batch conflict). */
  private def stageCdcBatches(s: SparkSession, d: String): String =
    stage(s, d, "cdc")(twoBatches(rawEvents(s, d), col("event_id") % 2 === 0,
      ("00_evens.parquet", "01_odds.parquet")))

  /** The crawl delta (doc_id % 10 == 0, dd_incremental's split) as a
    * deterministic 2-batch document replay: 00 = doc_id % 20 == 0,
    * 01 = the rest — so the standing-index append between the batches is
    * observable (batch 2 can match batch-1 survivors). */
  private def stageDeltaDocs(s: SparkSession, d: String): String =
    stage(s, d, "si")(twoBatches(s.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") % 10 === 0),
      col("doc_id") % 20 === 0, ("00_b1.parquet", "01_b2.parquet")))

  /** Single-batch replay + a year-2100 sentinel whose event_type is the
    * literal 'sentinel', so BOTH sides of a two-stream join can isin-keep
    * it through their type filters (stageWithSentinel's sentinel inherits
    * an arbitrary real type — fine for unfiltered streams, wrong for
    * per-type sides). */
  private def stageBothSentinel(s: SparkSession, d: String): String =
    stage(s, d, "lj") {
      val raw = rawEvents(s, d)
      Seq(Part("events.parquet", 0, Left(s"$d/events.parquet")),
        Part("zz_sentinel.parquet", 0, Right(raw.limit(1)
          .withColumn("user_id", lit(-1L)).withColumn("event_id", lit(-1L))
          .withColumn("event_type", lit("sentinel"))
          .withColumn("ts", tsLitLike(raw, SentinelMicros)))))
    }

  /** A 3-batch replay: 00 = the corpus, 01 = one tick row (lets the
    * lagged eviction watermark catch up to the base batch — see
    * st_dedup_watermark), 02 = the SAME events shifted one year later
    * (raw ts layout preserved) — the watermark sequence the TTL dedup
    * contract depends on. */
  private def stageYearReplay(s: SparkSession, d: String): String =
    stage(s, d, "ttl") {
      import org.apache.spark.sql.types.LongType
      val raw = rawEvents(s, d)
      val shifted = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", col("ts") + lit(365L * 86400L * 1000000000L))
        case _ => raw.withColumn("ts", expr("ts + INTERVAL 365 DAYS"))
      }
      Seq(Part("00_base.parquet", 180000, Right(raw)),
        // tick = the max-ts row re-badged (adds no event-time mass, so the
        // watermark after the tick batch is exactly max(base) - delay)
        Part("01_tick.parquet", 120000, Right(raw.orderBy(desc("ts")).limit(1)
          .withColumn("event_id", lit(-2L)).withColumn("user_id", lit(-2L)))),
        Part("02_replay.parquet", 60000, Right(shifted)))
    }

  /** Pre-build the memoized staged replay dirs (bench warmup: staging
    * writes files with Spark jobs — harness setup, not operator work). */
  def warmStaging(s: SparkSession, d: String): Unit = {
    stageWithSentinel(s, d); stageLate(s, d); ()
  }

  val defs: Seq[GraftQuery] = Seq(

    // 53. watermarked tumbling-window aggregation. Window origin is
    // epoch-aligned in both engines (Spark window() and DuckDB time_bucket).
    GraftQuery("st_window_agg", (s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumd(d2(col("value"))).as("total"))
        .select(unix_micros(col("window.start")).as("ws"),
          col("event_type"), col("n"), col("total"))
      // complete mode: finite replay must emit every window, incl. the last
      runToTable(s, agg, OutputMode.Complete())
    },
      Some("""SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS ws,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // 54. stateful sessionization via flatMapGroupsWithState — the
    // streaming twin of q_sessionize (same 30-min gap rule, same oracle).
    // State is O(1) per user (only the open session: sid/start/last/n);
    // closed sessions emit immediately on the in-batch gap, and the open
    // tail emits through the event-time timeout once the watermark passes
    // last + 30 min. On an infinite stream this neither grows state with
    // event count nor re-emits — the sentinel staging (stageWithSentinel)
    // ends the finite replay through that same timeout path.
    GraftQuery("st_sessionize", (s, d) => {
      import s.implicits._
      val schema = rawEvents(s, d).schema
      val evs = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // real batch, then sentinel batch
        .parquet(s"${stageWithSentinel(s, d)}/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .withWatermark("ts", "1 second")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("ts"))
        .as[EvW]
      val gapUs = 1800000000L
      val sessions = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState[OpenSess, Sess](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (user: Long, it: Iterator[EvW], state: GroupState[OpenSess]) =>
            if (state.hasTimedOut) {
              // watermark passed last + gap: the open session is closed
              val o = state.get
              state.remove()
              Iterator.single(Sess(user, o.session_id, o.n_events, o.start_us, o.last_us))
            } else {
              val out = scala.collection.mutable.ArrayBuffer[Sess]()
              var open = state.getOption.orNull
              // sort within the micro-batch only: O(batch), not O(history)
              it.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
                if (open == null) open = OpenSess(1L, e.us, e.us, 1L)
                else if (e.us - open.last_us > gapUs) {
                  out += Sess(user, open.session_id, open.n_events, open.start_us, open.last_us)
                  open = OpenSess(open.session_id + 1, e.us, e.us, 1L)
                } else open = open.copy(last_us = e.us, n_events = open.n_events + 1)
              }
              state.update(open)
              // clamp above the watermark (required by the API); if the gap
              // already elapsed, the timeout fires on the very next batch
              state.setTimeoutTimestamp(math.max(
                open.last_us / 1000L + gapUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
              out.iterator
            }
        }
      runToTable(s, sessions.toDF().filter(col("user_id") >= 0L), OutputMode.Append())
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
             |FROM s GROUP BY user_id, session_id""".stripMargin)),

    // 55b. stream-static enrichment join: the streaming side shuffles
    // nothing — the static dimension is broadcast into every micro-batch
    // (the standard pattern for dimension enrichment at 100 TB/day rates).
    GraftQuery("st_static_join", (s, d) => {
      import org.apache.spark.sql.functions.broadcast
      val dim = graft.Tables.t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val joined = eventsStream(s, d)
        .join(broadcast(dim), Seq("user_id"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumd(d2(col("value"))).as("total"))
      runToTable(s, joined, OutputMode.Complete())
    },
      Some("""SELECT c_mktsegment, event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1, 2""".stripMargin)),

    // 55c. sliding windows (6h window, 3h slide): every event lands in
    // exactly two windows; the oracle unrolls the same two bucket starts.
    GraftQuery("st_sliding_window", (s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours", "3 hours"))
        .agg(count(lit(1)).as("n"), sumd(d2(col("value"))).as("total"))
        .select(unix_micros(col("window.start")).as("ws"), col("n"), col("total"))
      runToTable(s, agg, OutputMode.Complete())
    },
      Some("""WITH w AS (
             |  SELECT unnest([epoch_us(time_bucket(INTERVAL '3 hours', ts)),
             |                 epoch_us(time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours')]) AS ws,
             |         value
             |  FROM events)
             |SELECT ws, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM w GROUP BY ws""".stripMargin)),

    // 55d. streaming dedup: state-backed dropDuplicates on the dedup key —
    // the streaming twin of exact dedup for continuous ingestion. (State is
    // bounded by key cardinality; an infinite-key stream would use
    // dropDuplicatesWithinWatermark to age entries out.)
    GraftQuery("st_dedup", (s, d) => {
      val dedup = eventsStream(s, d)
        .select(col("event_type"), col("value"))
        .dropDuplicates("event_type", "value")
      runToTable(s, dedup, OutputMode.Append())
    },
      Some("SELECT DISTINCT event_type, value FROM events")),

    // 55e. stream-stream interval join: every purchase matched to the SAME
    // user's views within the preceding 2 hours. Both sides carry
    // watermarks and the join condition bounds event time on both, so
    // Spark can size the join state and evict matched/expired rows — the
    // canonical two-stream enrichment at production rates. The batch
    // oracle is the identical interval self-join.
    // 55f. streaming ingestion quality gate: the stateless filter every
    // continuous training-data feed runs at the door — documents stream in,
    // sub-quality rows are dropped in-flight. No state, no watermark, no
    // shuffle: each micro-batch is a pure projection + filter, so the gate
    // sustains any ingest rate and the batch oracle is the same predicate.
    GraftQuery("st_quality_gate", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val gated = s.readStream.schema(schema).option("basePath", d)
        .parquet(s"$d/documents.*")
        .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
        .withColumn("n_toks", expr("size(toks)").cast("long"))
        .withColumn("quality",
          lit(0.4) * (expr("size(array_distinct(toks))").cast("long") / col("n_toks"))
            + lit(0.3) * least(col("n_toks") / lit(200.0), lit(1.0))
            + lit(0.3) * least(
              expr("aggregate(transform(toks, t -> length(t)), 0L, (s, x) -> s + x)")
                / col("n_toks") / lit(10.0), lit(1.0)))
        .filter(col("quality") >= 0.5)
        .select("doc_id", "n_toks", "quality")
      runToTable(s, gated, OutputMode.Append())
    },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_toks,
             |    0.4 * (CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT))
             |      + 0.3 * least(CAST(len(toks) AS BIGINT) / 200.0, 1.0)
             |      + 0.3 * least(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
             |                    / CAST(len(toks) AS BIGINT) / 10.0, 1.0) AS quality
             |  FROM t)
             |SELECT doc_id, n_toks, quality FROM m WHERE quality >= 0.5""".stripMargin)),

    // 55g. streaming CONNECTOR source: the plugin table itself as a
    // Structured Streaming input (API polling as a first-class stream —
    // beyond the batch-only reference). The offset is a key-space
    // position; micro-batches ride the same split/pushdown machinery as
    // batch reads. Aggregated in complete mode so the finite poll matches
    // the batch oracle exactly.
    GraftQuery("st_connector_stream", (s, d) => {
      val stream = s.readStream.format("graft")
        .option("plugin", "seq").option("table", "numbers").load()
        .groupBy((col("id") % 10).as("m"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"))
      runToTable(s, stream, OutputMode.Complete())
    },
      Some("""SELECT i % 10 AS m, COUNT(*) AS n,
             |  CAST(SUM((i * 7) % 97) AS BIGINT) AS sum_x
             |FROM range(0, 10000) t(i) GROUP BY 1""".stripMargin)),

    // 55j. Update output mode: each micro-batch emits ONLY the groups it
    // changed — the mode a downstream upsert sink (key-value store,
    // dashboard) consumes. Deterministic 2-batch replay (evens then odds,
    // mtime-ordered): batch 1 emits every window at its evens-only value,
    // batch 2 re-emits just the windows odd rows touched, at the merged
    // value. The memory sink accumulates both emissions, and the oracle
    // reproduces exactly that union — update semantics as a hash-checked
    // contract, not a trust-me.
    GraftQuery("st_update_mode", (s, d) => {
      val agg = s.readStream.schema(rawEvents(s, d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${stageEvensOdds(s, d)}/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"), sumd(d2(col("value"))).as("total"))
        .select(unix_micros(col("window.start")).as("ws"), col("n"), col("total"))
      runToTable(s, agg, OutputMode.Update())
    },
      Some("""WITH b1 AS (
             |  SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS ws,
             |    COUNT(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |  FROM events WHERE user_id % 2 = 0 GROUP BY 1),
             |b2 AS (
             |  SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS ws,
             |    COUNT(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |  FROM events
             |  GROUP BY 1
             |  HAVING COUNT(*) FILTER (WHERE user_id % 2 <> 0) > 0)
             |SELECT ws, n, total FROM b1
             |UNION ALL
             |SELECT ws, n, total FROM b2""".stripMargin)),

    // 55i. checkpoint recovery: the fault-tolerance contract a production
    // stream lives on. Run 1 dedups batch 1 into an exactly-once FILE sink
    // and is STOPPED; run 2 is a NEW query restarted from the same
    // checkpoint over a grown directory. The restored state store must
    // suppress duplicates run 2 never saw in its own lifetime, and the
    // restored source offsets must not re-read batch 1 — so the sink
    // directory ends up holding exactly DISTINCT over everything, which is
    // what the oracle checks. Without recovery this double-emits (state
    // lost) or double-reads (offsets lost); either breaks the hash.
    GraftQuery("st_recovery", (s, d) => {
      val staged = scratchDir(d, "recov_src")
      val ckpt = scratchDir(d, "recov_ckpt").toString
      val outDir = scratchDir(d, "recov_out").toString
      val raw = rawEvents(s, d)
      // run 1 sees the even users; run 2 restarts from the same checkpoint
      // after the full set lands (every batch-1 key repeats). Both start
      // at runToTable's state width (it locks into the checkpoint at first
      // start); the checkpoint is this entry's semantics, so run keeps it.
      Seq(Part("01_first.parquet", 0, Right(raw.filter(col("user_id") % 2 === 0))),
          Part("02_rest.parquet", 0, Right(raw))).foreach { p =>
        put(d, "recov", staged, p)
        run(s, s.readStream.schema(raw.schema).parquet(s"$staged/*.parquet")
          .select(col("event_type"), col("value"))
          .dropDuplicates("event_type", "value")
          .writeStream.outputMode(OutputMode.Append())
          .option("path", outDir).format("parquet"), Seq(StateWidth), Some(ckpt))
      }
      // batch read honors the sink's _spark_metadata exactly-once manifest
      s.read.parquet(outDir).select("event_type", "value")
    },
      Some("SELECT DISTINCT event_type, value FROM events")),

    // 54b. declarative sessionization: Catalyst's native session_window()
    // — the same 30-min-gap semantics as st_sessionize but expressed as a
    // windowed aggregation (merging session state handled by the engine's
    // session-window state store, not hand-written flatMapGroupsWithState).
    // Append mode + the sentinel replay flushes every closed session; the
    // sentinel's own session (user -1, year 2100) can never be passed by
    // the watermark, so it never emits and needs no filtering (a pre-agg
    // filter would be pushed below the watermark node — see st_late_data).
    GraftQuery("st_session_window", (s, d) => {
      val schema = rawEvents(s, d).schema
      val evs = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${stageWithSentinel(s, d)}/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .withWatermark("ts", "1 second")
      val agg = evs
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
      runToTable(s, agg, OutputMode.Append())
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
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM x)
             |SELECT user_id, MIN(us) AS start_us,
             |  MAX(us) + 1800000000 AS end_us, COUNT(*) AS n_events
             |FROM s GROUP BY user_id, sid""".stripMargin)),

    // 55h. late-data handling: the watermark actually DROPS late rows and
    // the oracle knows exactly which. Batch 1 = even users (watermark
    // advances to max(even ts) - 1h), batch 2 = odd users (rows whose 6h
    // window already closed under that watermark are discarded; the rest
    // still aggregate), batch 3 = sentinel (flushes survivors). Spark
    // tracks watermarks in WHOLE MILLISECONDS (event-time stats are
    // ms-floored), so the oracle recomputes the same ms-floored watermark
    // and the same window.end > watermark keep-predicate — late-row
    // dropping, usually invisible nondeterminism, becomes a hash-checked
    // contract. In production this IS the correctness boundary of every
    // streaming aggregation: state for a window is freed exactly when the
    // watermark passes it, which is what bounds state at 100 TB/day rates.
    GraftQuery("st_late_data", (s, d) => {
      val schema = rawEvents(s, d).schema
      val evs = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${stageLate(s, d)}/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .withWatermark("ts", "1 hour")
      val agg = evs.groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"), sumd(d2(col("value"))).as("total"))
        .select(unix_micros(col("window.start")).as("ws"), col("n"), col("total"))
      runToTable(s, agg, OutputMode.Append())
    },
      Some("""WITH wm AS (
             |  SELECT ((epoch_us(MAX(ts)) // 1000) - 3600000) * 1000 AS wus
             |  FROM events WHERE user_id % 2 = 0),
             |kept AS (
             |  SELECT e.ts, e.value FROM events e, wm
             |  WHERE e.user_id % 2 = 0
             |     OR epoch_us(time_bucket(INTERVAL '6 hours', e.ts)
             |          + INTERVAL '6 hours') > wm.wus
             |  UNION ALL
             |  SELECT TIMESTAMP '2024-01-01 00:00:00', 0.0)
             |SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS ws,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM kept GROUP BY 1""".stripMargin)),

    GraftQuery("st_interval_join", (s, d) => {
      val p = eventsStream(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
          col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val v = eventsStream(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("event_id").as("view_id"),
          col("ts").as("vts"))
        .withWatermark("vts", "1 hour")
      val joined = p.join(v, col("pu") === col("vu") &&
          col("vts") >= col("pts") - expr("INTERVAL 2 HOURS") &&
          col("vts") <= col("pts"))
        .select(col("purchase_id"), col("view_id"), col("pu").as("user_id"))
      // inner interval join emits every match in its data batch; the only
      // thing the post-watermark no-data batch would do is evict state the
      // replay is about to drop anyway
      runToTable(s, joined, OutputMode.Append(), noDataBatches = false)
    },
      Some("""SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
             |FROM events p JOIN events v
             |  ON p.user_id = v.user_id
             |  AND v.ts >= p.ts - INTERVAL 2 HOUR AND v.ts <= p.ts
             |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin)),

    // 55k. stream-stream LEFT OUTER interval join: purchases enriched
    // with same-user views from the preceding 2 hours, and purchases
    // with NO qualifying view still emitted (view_id NULL) — the
    // attribution shape where "unattributed" is itself the signal. Null
    // rows can only emit once the watermark proves no matching view can
    // still arrive, so the replay stages a year-2100 sentinel that
    // PASSES BOTH side filters (event_type = 'sentinel' is isin-kept on
    // each side; a filtered-out sentinel would be pushed below the
    // EventTimeWatermark node and never advance the clock): after the
    // single data batch commits, both watermarks jump past every real
    // event and the no-data batch flushes every unmatched purchase
    // through the normal eviction path. The two sentinels match each
    // other (same user, equal ts) and are dropped by the user_id >= 0
    // output filter. State posture at scale: both join sides are
    // time-bounded by the condition, so state per user is the 2-hour
    // view tail + unflushed purchases — watermark-bounded, not
    // stream-length-bounded.
    GraftQuery("st_left_join", (s, d) => {
      val staged = stageBothSentinel(s, d)
      val schema = rawEvents(s, d).schema
      def side(types: Seq[String], idAs: String, userAs: String, tsAs: String) =
        s.readStream.schema(schema).parquet(s"$staged/*.parquet")
          .transform(graft.Tables.tsNormalized)
          .filter(col("event_type").isin(types: _*))
          .select(col("user_id").as(userAs), col("event_id").as(idAs),
            col("ts").as(tsAs))
          .withWatermark(tsAs, "1 hour")
      val p = side(Seq("purchase", "sentinel"), "purchase_id", "pu", "pts")
      val v = side(Seq("view", "sentinel"), "view_id", "vu", "vts")
      val joined = p.join(v, col("pu") === col("vu") &&
          col("vts") >= col("pts") - expr("INTERVAL 2 HOURS") &&
          col("vts") <= col("pts"), "left_outer")
        .select(col("purchase_id"), col("view_id"), col("pu").as("user_id"))
      // The sentinel-drop filter runs on the SINK TABLE, not in the
      // streaming plan: user_id >= 0 references a left-side column, so
      // inside the plan Catalyst pushes it below the left EventTimeWatermark
      // into the scan — the sentinel then never reaches the event-time
      // stats, the watermark stalls at max(real ts) - 1h, and the last two
      // hours of unmatched purchases are withheld forever (observed before
      // this fix: 2 rows short at sf0.001).
      runToTable(s, joined, OutputMode.Append()).filter(col("user_id") >= 0L)
    },
      Some("""SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
             |FROM events p LEFT JOIN events v
             |  ON p.user_id = v.user_id AND v.event_type = 'view'
             |  AND v.ts >= p.ts - INTERVAL 2 HOUR AND v.ts <= p.ts
             |WHERE p.event_type = 'purchase'""".stripMargin)),

    // 55l. streaming dedup with state TTL (dropDuplicatesWithinWatermark):
    // the infinite-key-space variant of st_dedup — state for a key is
    // freed once the watermark passes its event time + delay, so a
    // duplicate arriving AFTER that horizon re-emits (at-least-once
    // dedup with bounded state: the contract a year-long ingest needs,
    // where plain dropDuplicates' state grows forever). The replay makes
    // the TTL OBSERVABLE and hash-checked: batch 1 = the corpus (every
    // event_id unique → all emit), batch 2 = the same event_ids replayed
    // one year later. At batch-2 processing the eviction watermark is
    // max(batch-1 ts) - 1 h; a key's state expires when that watermark
    // passes its event time + 1 h — so exactly the event_ids older than
    // max(ts) - 2 h re-emit, and the oracle recomputes that ms-floored
    // cutoff in SQL (same watermark arithmetic as st_late_data). The
    // replay is 3 batches (base → tick → replay): dedup eviction reads
    // the watermark from ONE COMMIT BACK (the SPARK-40925 lag that
    // st_late_data's tick also absorbs), so without the tick the replay
    // batch would still evict against the pre-base watermark and every
    // duplicate would be dropped (observed: 1000 rows, zero re-emits).
    GraftQuery("st_dedup_watermark", (s, d) => {
      val staged = stageYearReplay(s, d)
      val schema = rawEvents(s, d).schema
      val evs = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // base batch, tick, replay batch
        .parquet(s"$staged/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
      // tick-drop on the sink table (an in-plan filter would push below
      // the watermark node — see st_left_join)
      runToTable(s, evs, OutputMode.Append()).filter(col("event_id") >= 0L)
    },
      // the oracle models BOTH watermark legs of the replay batch:
      //  - EVICTION (one commit back): a key re-emits only if its base
      //    expiry ts+1h passed the tick-commit watermark w1 = max(ts)-1h;
      //  - the LATE FILTER (current watermark): the replayed row itself
      //    must sit at-or-after w1, or the operator drops it before dedup
      //    ever sees it. Below a 366-day corpus span the second leg is
      //    vacuous (every +365d row clears w1), which is why it only
      //    became observable at sf10's multi-year span (8.2y: 88% of the
      //    replay is late — the sf10 FAIL this clause closes).
      Some("""WITH wm AS (
             |  SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) AS w1ms FROM events)
             |SELECT event_id, epoch_us(ts) AS us FROM events
             |UNION ALL
             |SELECT e.event_id, epoch_us(e.ts + INTERVAL 365 DAYS) AS us
             |FROM events e, wm
             |WHERE epoch_us(e.ts) // 1000 + 3600000 < wm.w1ms
             |  AND epoch_us(e.ts + INTERVAL 365 DAYS) >= wm.w1ms * 1000""".stripMargin)),

    // 55m. foreachBatch MERGE sink: the production pattern for
    // materializing a stream into an upsert target (key-value store,
    // lakehouse table) when the sink has no native streaming writer —
    // each micro-batch aggregates ITS rows, then full-outer-merges into
    // the persisted target (matched keys combine, new keys insert) and
    // atomically swaps the table directory. Deterministic 2-batch replay
    // (evens then odds, mtime-ordered) drives two real merge rounds; the
    // final materialized table must equal the all-at-once batch
    // aggregate, which is exactly what the oracle computes. Exactness
    // across merges: per-batch totals stay DECIMAL(38,2) inside the
    // target (decimal addition is associative — merging per-batch sums
    // equals the one-shot sum bit-for-bit) and only the final read casts
    // to double. At scale each merge is one co-partitioned outer join of
    // the (small) per-batch aggregate against the target — the same
    // single-shuffle shape as q_merge_upsert, once per trigger.
    GraftQuery("st_foreach_batch", (s, d) => {
      val staged = stageEvensOdds(s, d)
      val tgt = scratchDir(d, "fb_tgt")
      val cur = tgt.resolve("cur")
      val schema = rawEvents(s, d).schema
      run(s, s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // evens batch, then odds batch
        .parquet(s"$staged/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
          val agg = batch.groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(d2(col("value"))).cast(org.apache.spark.sql.types.DecimalType(38, 2))
              .as("total"))
          val merged =
            if (!Files.exists(cur)) agg
            else {
              val prev = batch.sparkSession.read.parquet(cur.toString)
                .select(col("event_type"), col("n").as("pn"), col("total").as("pt"))
              prev.join(agg.select(col("event_type"), col("n").as("an"),
                  col("total").as("at")), Seq("event_type"), "full_outer")
                .select(col("event_type"),
                  (coalesce(col("pn"), lit(0L)) + coalesce(col("an"), lit(0L))).as("n"),
                  (coalesce(col("pt"), lit(BigDecimal(0))
                     .cast(org.apache.spark.sql.types.DecimalType(38, 2)))
                   + coalesce(col("at"), lit(BigDecimal(0))
                     .cast(org.apache.spark.sql.types.DecimalType(38, 2))))
                    .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("total"))
            }
          val next = tgt.resolve(s"next_$batchId")
          merged.coalesce(1).write.mode("overwrite").parquet(next.toString)
          // atomic-enough swap for a single-writer stream: replace cur
          if (Files.exists(cur)) {
            Files.list(cur).forEach(p => Files.delete(p))
            Files.delete(cur)
          }
          Files.move(next, cur)
          ()
        })
      s.read.parquet(cur.toString)
        .select(col("event_type"), col("n"), col("total").cast("double").as("total"))
    },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM events GROUP BY 1""".stripMargin)),

    // 55o. streaming CDC apply (#221): the Debezium→lakehouse ingest
    // shape — a stream of row-level change events (update / delete)
    // applied to a standing keyed table by LAST-WRITER-WINS with
    // tombstones. The events table is read as a change stream on key
    // user_id: event_type 'error' is the DELETE tombstone, anything else
    // an UPSERT carrying `value`; change order is the TOTAL order
    // (ts, event_id) — event ids are unique, so every conflict has a
    // deterministic winner and the final state is a function of the data
    // MULTISET, independent of how the stream is micro-batched (LWW max
    // is associative+commutative). The replay stages two batches by
    // EVENT-id parity, so keys collide across batches and the
    // merge resolves real cross-batch conflicts — including the two
    // orders a naive apply gets wrong: a LATER-applied but OLDER-ts
    // update must not resurrect a deleted key, and a later-ts update
    // must. Tombstones stay IN the target during the run (dropping them
    // early would let exactly that resurrection through) and filter at
    // read. Scale shape: each trigger reduces ITS batch map-side to one
    // winner per touched key (max of a (us, event_id, del, value)
    // struct — lexicographic, ties impossible), then ONE full-outer
    // equi-join of the batch winners against the target, i.e. the
    // standard incremental-MERGE cost: per-trigger work scales with the
    // CHANGE volume, the target join is co-partitioned on the key, and
    // nothing rescans history. Oracle: one window over the whole corpus
    // picking each key's (ts, event_id)-max change, deletes filtered.
    GraftQuery("st_cdc", (s, d) => {
      val staged = stageCdcBatches(s, d)
      val tgt = scratchDir(d, "cdc_tgt")
      val cur = tgt.resolve("cur")
      val schema = rawEvents(s, d).schema
      run(s, s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // evens batch, then odds batch
        .parquet(s"$staged/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
          val win = batch.select(col("user_id"),
              struct(unix_micros(col("ts")).as("us"), col("event_id"),
                (col("event_type") === "error").as("del"),
                col("value")).as("ch"))
            .groupBy("user_id").agg(max("ch").as("ch"))
          val merged =
            if (!Files.exists(cur)) win
            else {
              val prev = batch.sparkSession.read.parquet(cur.toString)
                .select(col("user_id"), col("ch").as("pch"))
              prev.join(win.select(col("user_id"), col("ch").as("nch")),
                  Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  when(col("pch").isNull, col("nch"))
                    .when(col("nch").isNull, col("pch"))
                    .when(col("nch") > col("pch"), col("nch"))
                    .otherwise(col("pch")).as("ch"))
            }
          val next = tgt.resolve(s"next_$batchId")
          merged.coalesce(1).write.mode("overwrite").parquet(next.toString)
          if (Files.exists(cur)) {
            Files.list(cur).forEach(p => Files.delete(p))
            Files.delete(cur)
          }
          Files.move(next, cur)
          ()
        })
      s.read.parquet(cur.toString)
        .filter(!col("ch.del"))
        .select(col("user_id"), col("ch.value").as("value"),
          col("ch.us").as("us"))
    },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    event_type = 'error' AS del, value FROM events),
             |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |    ORDER BY us DESC, event_id DESC) AS rn FROM c)
             |SELECT user_id, value, us FROM w WHERE rn = 1 AND NOT del"""
        .stripMargin)),

    // 55n. the STREAMING CAPSTONE — the online monitoring feed of an
    // ingest pipeline as ONE streaming query with THREE CHAINED STATEFUL
    // OPERATORS (the composition Spark only allows in append mode with
    // event-time windows end to end): admission gate (drop 'error'
    // events and sub-floor values — stateless, fuses into the scan) →
    // watermarked exact dedup on event_id (dropDuplicatesWithinWatermark:
    // bounded state; its eviction contract is pinned observably by
    // st_dedup_watermark — here every id is unique so the stage is
    // exercised structurally and passes everything) → 6-hour tumbling
    // per-type stats (count + exact DECIMAL sum) → DAILY rollup of the
    // hourly windows (window-over-window: the second aggregation groups
    // the FIRST's window struct into 1-day buckets). Partial day sums
    // stay DECIMAL(38,2) between the levels — decimal addition is
    // associative, so the two-level rollup equals the oracle's one-shot
    // daily aggregate bit-for-bit, and only the final projection casts
    // to double. The replay stages the corpus plus a year-2100 sentinel
    // (maxFilesPerTrigger=1: corpus batch, then sentinel batch) so the
    // watermark passes every real day window and append mode flushes
    // them through the normal eviction path; the sentinel passes the
    // gate via user_id < 0 and is dropped at the sink by its own
    // far-future window start. State posture at scale: dedup state is
    // watermark-bounded, both window states hold one open bucket per
    // (window, type) — none grow with stream length.
    GraftQuery("st_pipeline_monitor", (s, d) => {
      val staged = stageWithSentinel(s, d)
      val schema = rawEvents(s, d).schema
      val evs = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // corpus batch, then sentinel
        .parquet(s"$staged/*.parquet")
        .transform(graft.Tables.tsNormalized)
        .filter(col("user_id") < 0L ||
          (col("event_type") =!= "error" && col("value") >= 0.05))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val hourly = evs
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n6"),
          sum(d2(col("value"))).cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .as("total6"))
      val daily = hourly
        .groupBy(window(col("window"), "1 day"), col("event_type"))
        .agg(sum(col("n6")).as("n"),
          sum(col("total6")).cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .cast("double").as("total"))
        .select(unix_micros(col("window.start")).as("ds"),
          col("event_type"), col("n"), col("total"))
      // sentinel lands alone in its 2100 window — drop it by window start
      runToTable(s, daily, OutputMode.Append())
        .filter(col("ds") < SentinelMicros)
    },
      Some("""SELECT epoch_us(time_bucket(INTERVAL '1 day', ts)) AS ds,
             |  event_type, COUNT(*) AS n,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2))
             |    AS DOUBLE) AS total
             |FROM events
             |WHERE event_type <> 'error' AND value >= 0.05
             |GROUP BY 1, 2""".stripMargin)),

    // 204 (§2.3 #202's streaming twin): the volume-anomaly monitor over
    // the LIVE stream. The streaming leg aggregates (event_type, hour)
    // arrival counts in Complete mode — for the finite replay the final
    // complete output IS the batch bucket table — and the flag pass is
    // operators.DataQuality.anomalyFlag, the SAME decision tail
    // dq_anomaly uses (single-sourced: the exact-int64 spike rule cannot
    // drift between the batch gate and the live monitor). This split is
    // the production shape: the stream maintains the standing bucket
    // store; flagging is a cheap read over it each evaluation, because a
    // streaming aggregate cannot join against its own global totals
    // within one plan (the totals are a second aggregation over the
    // aggregate — Spark correctly refuses stacked streaming aggs in one
    // query, and at 100 TB/day you want the baseline read amortized, not
    // recomputed per micro-batch).
    // 206 (§2.3 #118 dd_incremental's streaming twin): the LIVE near-dup
    // ingest gate. A production crawl dedups the arriving stream against
    // the STANDING MinHash index of everything already admitted: each
    // micro-batch computes its docs' signatures, LSH-bands them against
    // the persisted index (band equijoin batch×index only — never
    // index×index, so per-trigger cost scales with the batch), prefilters
    // by 64-long signature agreement, verifies candidates with exact
    // Jaccard over 5-gram shingles (index-side shingles re-read from the
    // corpus for the candidate-bounded verify set only), emits the
    // matched pairs, and APPENDS the survivors' signatures to the index —
    // so later batches dedup against earlier admissions, the exact
    // semantics a standing gate must have. foreachBatch (the
    // st_foreach_batch discipline): the index append + pair emit are a
    // transactional batch step no built-in streaming sink expresses.
    // Deterministic 2-batch replay (doc_id%20==0, then the rest of the
    // delta, mtime-ordered); the oracle replays the same two rounds in
    // SQL — batch-2 candidates may match batch-1 SURVIVORS (appended)
    // but never batch-1 dups (not appended). Same md5 chain as
    // dd_minhash_lsh → memoizable in the sf1+/sf10 sweeps (OracleMemo).
    GraftQuery("st_incremental", (s, d) => {
      val staged = stageDeltaDocs(s, d)
      val idxDir = scratchDir(d, "si_idx").toString
      val outDir = scratchDir(d, "si_out").toString
      val corpus = graft.Tables.widened(s, d, "documents")
      def sigs(df: DataFrame): DataFrame =
        df.select(col("doc_id"), expr("char_shingles(text, 5)").as("sh"))
          .withColumn("sig", expr("minhash_sig(sh)"))
      def banded(df: DataFrame, id: String): DataFrame =
        df.select(col("doc_id").as(id), posexplode(expr(
          "transform(sequence(0, 15), b -> slice(sig, 4 * b + 1, 4))"))
          .as(Seq("band", "bk")))
      // the standing index: the persisted artifact of the previous dedup
      // run over the admitted corpus (doc_id % 10 <> 0)
      sigs(corpus.filter(col("doc_id") % 10 =!= 0)).select("doc_id", "sig")
        .write.mode("overwrite").parquet(idxDir)
      // pair sink starts as an empty typed table so a no-match replay
      // still reads back with the right schema
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "nid BIGINT, oid BIGINT, jacc DOUBLE"))
        .write.mode("overwrite").parquet(outDir)
      val schema = s.read.parquet(s"$staged/00_b1.parquet").schema
      run(s, s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // delta batch 1, then batch 2
        .parquet(s"$staged/*.parquet")
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
          val ss = batch.sparkSession
          val b = sigs(batch.toDF()).persist()
          val idx = ss.read.parquet(idxDir)
          val cand = banded(b, "nid")
            .join(banded(idx, "oid"), Seq("band", "bk"))
            .select("nid", "oid").distinct()
          val pre = cand
            .join(b.select(col("doc_id").as("nid"), col("sig").as("sa")), "nid")
            .join(idx.select(col("doc_id").as("oid"), col("sig").as("sb")), "oid")
            .filter(expr("sig_agree(sa, sb) / CAST(64 AS DOUBLE)") >= 0.55)
            .select("nid", "oid")
          // candidate-bounded verify: re-read corpus text only for the
          // oids that survived the prefilter (a DECLARED broadcast semi-
          // join — candidates per batch are banding-bounded), and only
          // then pay the shingle recompute
          val verifySide = corpus.join(
            broadcast(pre.select(col("oid").as("doc_id")).distinct()),
            Seq("doc_id"), "left_semi")
          val pairs = pre
            .join(b.select(col("doc_id").as("nid"), col("sh").as("sha")), "nid")
            .join(sigs(verifySide)
              .select(col("doc_id").as("oid"), col("sh").as("shb")), "oid")
            .withColumn("jacc", expr("jaccard_sim(sha, shb)"))
            .filter(col("jacc") >= 0.7)
            .select("nid", "oid", "jacc").persist()
          pairs.write.mode("append").parquet(outDir)
          // survivors (no match) join the standing index for later batches
          b.select(col("doc_id"), col("sig"))
            .join(pairs.select(col("nid").as("doc_id")), Seq("doc_id"),
              "left_anti")
            .write.mode("append").parquet(idxDir)
          pairs.unpersist(); b.unpersist()
          ()
        })
      s.read.parquet(outDir)
    },
      Some(s"""WITH d AS (${graft.operators.DuckSql.shingles("documents", "doc_id", 5)}),
             |${graft.operators.DuckSql.sigCtes("doc_id")},
             |bands AS (SELECT doc_id, b, list_slice(sig, 4*b+1, 4*b+4) AS bk
             |  FROM sl, range(0, 16) r(b)),
             |cand1 AS (SELECT DISTINCT a.doc_id AS nid, bb.doc_id AS oid
             |  FROM bands a JOIN bands bb ON a.b = bb.b AND a.bk = bb.bk
             |  WHERE a.doc_id % 20 = 0 AND bb.doc_id % 10 <> 0),
             |pre1 AS (SELECT nid, oid FROM cand1
             |  JOIN sl sa ON sa.doc_id = cand1.nid
             |  JOIN sl sb ON sb.doc_id = cand1.oid
             |  WHERE ${graft.operators.DuckSql.sigAgree("sa.sig", "sb.sig")} >= 0.55),
             |p1 AS (SELECT nid, oid, jacc FROM (
             |  SELECT nid, oid, ${graft.operators.DuckSql.jacc("da.sh", "db.sh")} AS jacc
             |  FROM pre1 JOIN d da ON da.doc_id = pre1.nid
             |  JOIN d db ON db.doc_id = pre1.oid) WHERE jacc >= 0.7),
             |surv1 AS (SELECT doc_id FROM sl
             |  WHERE doc_id % 20 = 0 AND doc_id NOT IN (SELECT nid FROM p1)),
             |cand2 AS (SELECT DISTINCT a.doc_id AS nid, bb.doc_id AS oid
             |  FROM bands a JOIN bands bb ON a.b = bb.b AND a.bk = bb.bk
             |  WHERE a.doc_id % 10 = 0 AND a.doc_id % 20 <> 0
             |    AND (bb.doc_id % 10 <> 0
             |         OR bb.doc_id IN (SELECT doc_id FROM surv1))),
             |pre2 AS (SELECT nid, oid FROM cand2
             |  JOIN sl sa ON sa.doc_id = cand2.nid
             |  JOIN sl sb ON sb.doc_id = cand2.oid
             |  WHERE ${graft.operators.DuckSql.sigAgree("sa.sig", "sb.sig")} >= 0.55),
             |p2 AS (SELECT nid, oid, jacc FROM (
             |  SELECT nid, oid, ${graft.operators.DuckSql.jacc("da.sh", "db.sh")} AS jacc
             |  FROM pre2 JOIN d da ON da.doc_id = pre2.nid
             |  JOIN d db ON db.doc_id = pre2.oid) WHERE jacc >= 0.7)
             |SELECT nid, oid, jacc FROM p1
             |UNION ALL SELECT nid, oid, jacc FROM p2""".stripMargin)),

    GraftQuery("st_anomaly", (s, d) => {
      val hourly = eventsStream(s, d)
        .select(col("event_type"),
          date_format(date_trunc("hour", col("ts")),
            "yyyy-MM-dd HH:mm:ss").as("hour_s"))
        .groupBy("event_type", "hour_s").agg(count(lit(1)).as("n"))
      graft.operators.DataQuality.anomalyFlag(
        runToTable(s, hourly, OutputMode.Complete()))
    },
      Some(graft.operators.DataQuality.anomalySql)),

    // 209 (§2.3 #199 dq_drift's streaming twin — the monitor family's
    // distribution leg goes live, completing the batch/stream pairing:
    // volume = dq_anomaly/st_anomaly, distribution = dq_drift/st_drift).
    // Production shape: the BASELINE histogram is the standing artifact
    // of the admitted corpus (a static read, amortized across
    // evaluations); the stream maintains the LIVE value histogram
    // (complete-mode fixed-bucket aggregate — state is |buckets| rows,
    // bounded at any rate); each evaluation joins the two ~12-row tables
    // and scores the shift with operators.DataQuality.driftTail, the
    // SAME exact-int64 TVD rule the batch gate uses (single-sourced: a
    // threshold change cannot drift between gate and monitor). The
    // deterministic replay splits events on event_id parity (even =
    // admitted baseline, odd = live arrivals); the bucket join is
    // FULL OUTER with null-safe keys (a bucket present on one side only
    // must surface as drift mass, not vanish — and both engines agree
    // NULL-bucket rows pair up under IS NOT DISTINCT FROM).
    GraftQuery("st_drift", (s, d) => {
      val w = graft.operators.DataQuality.stDriftWidth
      val base = graft.Tables.t(s, d, "events")
        .filter(col("event_id") % 2 === 0)
        .groupBy(floor(col("value") / w).as("bucket"))
        .agg(count(lit(1)).as("n_base"))
      val curr = eventsStream(s, d)
        .filter(col("event_id") % 2 =!= 0)
        .groupBy(floor(col("value") / w).as("bucket"))
        .agg(count(lit(1)).as("n_curr"))
      val currT = runToTable(s, curr, OutputMode.Complete())
      val cts = base.join(currT, base("bucket") <=> currT("bucket"),
          "full_outer")
        .select(coalesce(base("bucket"), currT("bucket")).as("bucket"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_curr"), lit(0L)).as("n_curr"))
      graft.operators.DataQuality.driftTail(s, cts)
    },
      Some(graft.operators.DataQuality.driftTailSql(
        s"""bb AS (SELECT CAST(FLOOR(value / ${graft.operators.DataQuality.stDriftWidth}) AS BIGINT) AS bucket,
           |    COUNT(*) AS n_base
           |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
           |cc AS (SELECT CAST(FLOOR(value / ${graft.operators.DataQuality.stDriftWidth}) AS BIGINT) AS bucket,
           |    COUNT(*) AS n_curr
           |  FROM events WHERE event_id % 2 <> 0 GROUP BY 1),
           |c AS (SELECT COALESCE(bb.bucket, cc.bucket) AS bucket,
           |    COALESCE(bb.n_base, 0) AS n_base,
           |    COALESCE(cc.n_curr, 0) AS n_curr
           |  FROM bb FULL JOIN cc ON bb.bucket IS NOT DISTINCT FROM cc.bucket)""".stripMargin))),

    // 211 (§2.3 #203 dq_freshness's streaming twin — the monitor family's
    // CLOCK leg goes live, closing the batch/stream pairing for all three
    // legs: volume, distribution, clock). The stream maintains the
    // per-type watermark table in Complete mode (count + max event-time
    // micros — state is |types| rows at any rate); each evaluation folds
    // the global watermark from those partials and decides staleness with
    // operators.DataQuality.freshnessTail, the SAME exact-microsecond
    // strict->1h rule the batch gate uses (single-sourced — the SLA
    // cannot drift between gate and monitor; spec-pinned ≡ batch
    // row-for-row).
    GraftQuery("st_freshness", (s, d) => {
      val perType = eventsStream(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          max(unix_micros(col("ts"))).as("max_us"))
      graft.operators.DataQuality.freshnessTail(
        runToTable(s, perType, OutputMode.Complete()))
    },
      Some(graft.operators.DataQuality.freshnessSql)),

    // 216 (§2.1 #120 q_approx_topk's streaming twin — the sketch family
    // goes LIVE): heavy hitters over the ingest stream. The stream
    // maintains the Space-Saving summary per source in Complete mode —
    // the native approx_topk TypedImperativeAggregate's state is ≤
    // capacity(256) entries per group at ANY rate (the bounded shape a
    // live "top domains/tokens right now" monitor needs) — and each
    // evaluation ranks/flattens with operators.Relational3.approxTopkTail,
    // the SAME decision tail as the batch entry (single-sourced: the
    // ranking rule cannot drift between gate and monitor). Exactness
    // story, single-sourced with the batch entry too: below capacity the
    // sketch is EXACT regardless of merge order — including micro-batch
    // boundaries — so the gate-scale oracle is the same exact SQL; over
    // capacity (sf1+) the sweep machine-checks the published Space-Saving
    // bounds instead (verify_sweep EPS_BOUND, with one extra merge level
    // for the stream's state fold).
    GraftQuery("st_topk", (s, d) => {
      val agged = docsStream(s, d)
        .select(col("source"),
          explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
        .groupBy("source")
        .agg(expr("approx_topk(token)").as("top"))
      graft.operators.Relational3.approxTopkTail(
        runToTable(s, agged, OutputMode.Complete()))
    },
      Some(graft.operators.Relational3.approxTopkSql)),

    // 217 (§2.1 #210 q_quantile_sketch's streaming twin — live quantiles):
    // the stream maintains the deterministic bottom-256-by-md5-rank
    // sample per group in Complete mode (functions.BottomKTupleAgg:
    // min-k of a union is the min-k of the merged min-k's, so the
    // standing sample is a function of the data multiset alone —
    // micro-batch boundaries, partitioning and merge order all cancel,
    // which is why the ORACLE IS EXACT AT EVERY SCALE, unlike the
    // order-dependent GK/KLL compactions). State is ≤ 256 triples per
    // group at any rate; each evaluation estimates p50/90/99 with
    // operators.Relational3.quantileTail, the SAME pure-int64 index rule
    // as the batch sketch (single-sourced — and the batch entry's exact
    // side already prices this sample's error, so the monitor inherits a
    // measured error model for free).
    GraftQuery("st_quantile", (s, d) => {
      val li = liStream(s, d).select(
          col("l_returnflag").as("grp"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("v"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"))
        .withColumn("hk",
          conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
      val agged = li.groupBy("grp")
        .agg(expr("bottomk_sample(hk, id, v)").as("samp"))
      val samp = runToTable(s, agged, OutputMode.Complete())
        .select(col("grp"), explode(col("samp")).as("t"))
        .select(col("grp"), col("t.v").as("v"), col("t.id").as("id"))
      graft.operators.Relational3.quantileTail(samp, "m", "est")
    },
      Some(
        s"""WITH ${graft.operators.Relational3.quantileSampleCtes},
           |${graft.operators.Relational3.quantileTailSql("samp", "m", "est")}
           |SELECT grp, m, est_p50, est_p90, est_p99 FROM estq""".stripMargin)),

    // 218 (§2.3 #215 dq_outlier's streaming twin — the monitor family's
    // fourth and final leg goes live: volume, distribution, clock, and
    // now VALUE INTEGRITY are all batch/stream-paired over single-sourced
    // decision tails). The stream maintains the per-(type, value) count
    // histogram in Complete mode — the standing artifact a value monitor
    // keeps; state is bounded by the VALUE DOMAIN (distinct (type, value)
    // pairs), not the arrival rate — and each evaluation folds medians,
    // MAD and the strict-3·MAD flag count with
    // operators.DataQuality.outlierTail, the SAME exact index-rule
    // arithmetic as the batch audit (oracle shared verbatim; spec pins
    // stream ≡ batch row-for-row).
    GraftQuery("st_outlier", (s, d) => {
      val perV = eventsStream(s, d)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"), col("value").as("v"))
        .agg(count(lit(1)).as("c"))
      graft.operators.DataQuality.outlierTail(s,
        runToTable(s, perV, OutputMode.Complete()))
    },
      Some(graft.operators.DataQuality.outlierSql))
  )
}
