package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

/** The one registry of a session's shared, materialised stages (feature
  * tables, pair indexes, label tables, corpus counts, bucketed tables,
  * staged stream replays) and of everything the operators pin.
  *
  * Single flight: `memo(s, key)(build)` runs `build` once per (session,
  * key). A concurrent caller of the same key waits on the one in-flight
  * build and gets its value. A build that throws leaves no entry behind:
  * its waiters see the same exception, and the next caller builds again.
  *
  * One lifetime rule for pins (`track` for a persisted Dataset, `onRelease`
  * for any other free action, e.g. a snapshot RDD): a pin made while a
  * memo build runs on the current thread belongs to the memo and lives
  * until `release`; a pin made anywhere else belongs to the running entry
  * and lives until `releaseScoped`. A memo whose value is a Dataset pins
  * that value with memo lifetime.
  *
  * A session's state is one record in a weak map keyed by the session
  * object. A memo value references its session, so the weak key alone
  * never frees the record: `release` (run by `GraftSession.stop`) does,
  * and as a backstop every lookup drops the records of sessions whose
  * SparkContext has stopped. */
object OpCache {
  /** Free actions of one lifetime, with the Datasets among them. */
  private final class Pins {
    val datasets = new java.util.ArrayList[Dataset[_]]()
    val frees = new java.util.ArrayList[() => Unit]()
    def free(): Unit = {
      frees.forEach(f => f())
      frees.clear(); datasets.clear()
    }
  }

  /** Everything OpCache holds for one session. */
  private final class Entry {
    val memos = new java.util.HashMap[String, Promise[Any]]()
    val memoPins = new Pins
    val scopedPins = new Pins
  }
  private val entries = new java.util.WeakHashMap[SparkSession, Entry]()

  /** Memo builds running on this thread (builds nest: one memo's build
    * may read another memo). */
  private val building = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** `s`'s record, created on first use, after dropping every record of a
    * stopped SparkContext. Caller holds the monitor. */
  private def entry(s: SparkSession): Entry = {
    entries.keySet().removeIf(_.sparkContext.isStopped)
    entries.computeIfAbsent(s, _ => new Entry)
  }

  private def pins(s: SparkSession): Pins = {
    val e = entry(s)
    if (building.get > 0) e.memoPins else e.scopedPins
  }

  /** Run `free` when the pin made here ends (see the lifetime rule). */
  def onRelease(s: SparkSession)(free: => Unit): Unit = synchronized {
    pins(s).frees.add(() => free); ()
  }

  /** Pin a persisted Dataset: unpersisted when the pin ends (see the
    * lifetime rule). Returns the argument for inline use. */
  def track[D <: Dataset[_]](s: SparkSession, ds: D): D = synchronized {
    val p = pins(s)
    p.datasets.add(ds)
    p.frees.add(() => { ds.unpersist(); () })
    ds
  }

  /** The value of `key` for `s`, built once by the first caller; see the
    * class doc for the single-flight contract. The build runs outside the
    * monitor, so builds of other keys and sessions proceed meanwhile. */
  def memo[T](s: SparkSession, key: String)(build: => T): T = {
    val (cell, mine) = synchronized {
      val e = entry(s)
      val prior = e.memos.get(key)
      if (prior != null) (prior, false)
      else { val p = Promise[Any](); e.memos.put(key, p); (p, true) }
    }
    if (mine) {
      building.set(building.get + 1)
      try {
        val v = build
        v match { case ds: Dataset[_] => track(s, ds); case _ => }
        cell.success(v)
      } catch { case t: Throwable =>
        synchronized { Option(entries.get(s)).foreach(_.memos.remove(key, cell)) }
        cell.failure(t)
      } finally building.set(building.get - 1)
    }
    Await.result(cell.future, Duration.Inf).asInstanceOf[T]
  }

  /** End every entry-scoped pin of `s`: the runtimes call this after each
    * entry's action, so one entry's working caches never hold storage
    * memory through the entries after it. Memos and their pins stay. */
  def releaseScoped(s: SparkSession): Unit = synchronized {
    Option(entries.get(s)).foreach(_.scopedPins.free())
  }

  /** Drop every memo of `s` and end all its pins. */
  def release(s: SparkSession): Unit = synchronized {
    Option(entries.remove(s)).foreach { e =>
      e.memoPins.free(); e.scopedPins.free()
    }
  }

  /** Test hook: the Datasets currently pinned for `s`, memo-owned first. */
  private[graft] def trackedFor(s: SparkSession): Seq[Dataset[_]] = synchronized {
    Option(entries.get(s)).fold(Seq.empty[Dataset[_]]) { e =>
      val b = Seq.newBuilder[Dataset[_]]
      Seq(e.memoPins, e.scopedPins).foreach(_.datasets.forEach(b += _))
      b.result()
    }
  }
}
