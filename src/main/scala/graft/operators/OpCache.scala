package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for the persisted feature tables the dedup /
  * similarity operators share (vector features, verified-pair index,
  * signature tables). Two jobs:
  *
  *   1. Memoize the shared "materialized feature store" per (session, dir)
  *      so every consumer reads one persisted copy instead of rebuilding.
  *   2. Give those persists an explicit LIFECYCLE: every DataFrame this
  *      package pins is tracked here, and `release(session)` unpersists
  *      them all — nothing stays pinned for the life of the JVM (the old
  *      per-object ConcurrentHashMap held its persists forever and keyed
  *      them by identityHashCode, which can collide after GC).
  *
  * All of a session's state is one record, keyed by the SparkSession
  * OBJECT in one weak map: no hash collisions by construction. NOTE the weak keys alone do NOT reclaim a
  * dropped session's entries — the map's DataFrame values strongly
  * reference their session (a Dataset holds its SparkSession), so the
  * value chain keeps the weak key alive. `release(session)` is therefore
  * MANDATORY at end of life (the mains Verify, Bench, BenchScale,
  * RowSmoke, TimeQ, PlanDump and PlanAudit call it before `stop`), and
  * as a backstop every registry
  * mutation sweeps entries whose SparkContext has been STOPPED (the one
  * session-death signal observable from outside): a stopped session's
  * cached plans are unusable anyway, so dropping the references then is
  * both safe and the actual leak fix for sessions that died without
  * release(). */
object OpCache {
  /** Everything OpCache holds for one session. */
  private final class Entry {
    val memos = new java.util.HashMap[String, DataFrame]()
    val longs = new java.util.HashMap[String, java.lang.Long]()
    val pinned = new java.util.ArrayList[DataFrame]()
    val hooks = new java.util.ArrayList[() => Unit]()
    val scopedHooks = new java.util.ArrayList[() => Unit]()
  }
  private val entries = new java.util.WeakHashMap[SparkSession, Entry]()

  /** `s`'s record, created on first use, after dropping every record of a
    * STOPPED SparkContext (see class doc). Caller must hold the monitor. */
  private def entry(s: SparkSession): Entry = {
    entries.keySet().removeIf(_.sparkContext.isStopped)
    entries.computeIfAbsent(s, _ => new Entry)
  }

  /** Record a DataFrame this package persisted so release() can free it.
    * Returns the argument for inline use. */
  def track(s: SparkSession, df: DataFrame): DataFrame = synchronized {
    entry(s).pinned.add(df)
    df
  }

  /** Memoized persisted DataFrame per (session, key): built + tracked once,
    * then shared by every consumer until release(). The build runs OUTSIDE
    * the monitor (it may launch Spark jobs; holding the lock would serialize
    * every concurrent session on one build) with a double-checked put — a
    * losing racer unpersists its redundant copy. */
  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val cached = synchronized(entry(s).memos.get(key))
    if (cached != null) return cached
    val built = build
    synchronized {
      val e = entry(s)
      val prior = e.memos.get(key)
      if (prior != null) { built.unpersist(); prior }
      else { e.pinned.add(built); e.memos.put(key, built); built }
    }
  }

  /** Memoized scalar per (session, key) — corpus statistics (row counts)
    * that parameterize quantizer sizes. Same build-outside-the-lock shape
    * as memo: the count job must not run under the OpCache monitor. */
  def memoLong(s: SparkSession, key: String)(build: => Long): Long = {
    val cached = synchronized(entry(s).longs.get(key))
    if (cached != null) return cached.longValue()
    val v = build
    synchronized {
      val prior = entry(s).longs.putIfAbsent(key, v)
      if (prior != null) prior.longValue() else v
    }
  }

  /** Register a custom release action (e.g. unpersisting an RDD-backed
    * snapshot a DataFrame.unpersist can't reach). */
  def trackHook(s: SparkSession, hook: () => Unit): Unit = synchronized {
    entry(s).hooks.add(hook); ()
  }

  /** Register an ENTRY-SCOPED release action: state that is consumed
    * entirely within one entry's action (e.g. the Components.minLabel
    * final-round RDD snapshot) and is dead weight once that action
    * finishes. Run by releaseScoped() — and by release() as a backstop
    * for runtimes that never call releaseScoped. */
  def trackHookScoped(s: SparkSession, hook: () => Unit): Unit = synchronized {
    entry(s).scopedHooks.add(hook); ()
  }

  /** Release ENTRY-SCOPED state between entries: unpersist every pinned
    * DataFrame that is NOT a memoized feature-store table, and run the
    * entry-scoped hooks. Bench/Verify/TimeQ/BenchScale call this after
    * each entry's action so one entry's working caches (candidate-pair
    * tables, per-entry snapshots) never bleed storage memory into the
    * remaining ~200 entries of a shared-session run — the mhVerify
    * persist→materialize→unpersist discipline, applied at the harness
    * boundary for caches that must stay live until the entry's action
    * completes. The deliberate warmup memos (the shared feature store)
    * are kept. */
  def releaseScoped(s: SparkSession): Unit = synchronized {
    val e = entries.get(s)
    if (e != null) {
      val keep = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
      keep.addAll(e.memos.values())
      e.pinned.removeIf { df =>
        val drop = !keep.contains(df)
        if (drop) df.unpersist()
        drop
      }
      val h = new java.util.ArrayList(e.scopedHooks)
      e.scopedHooks.clear()
      h.forEach { f => f() }
    }
  }

  /** Unpersist every DataFrame this package pinned for `s` and drop its
    * memo tables — the explicit end of the feature-store lifecycle
    * (Verify/Bench call this when a session's query set is done). */
  def release(s: SparkSession): Unit = synchronized {
    val e = entries.remove(s)
    if (e != null) {
      e.pinned.forEach { df => df.unpersist(); () }
      e.hooks.forEach { f => f() }
      e.scopedHooks.forEach { f => f() }
    }
  }

  /** Test hook: the DataFrames currently pinned for `s`. */
  private[graft] def trackedFor(s: SparkSession): Seq[DataFrame] = synchronized {
    val e = entries.get(s)
    if (e == null) Seq.empty
    else { val b = Seq.newBuilder[DataFrame]; e.pinned.forEach(b += _); b.result() }
  }
}
