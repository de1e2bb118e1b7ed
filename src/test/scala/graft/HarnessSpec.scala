package graft

import graft.operators.OpCache
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one loop the harness mains run entries through, over fake entries. */
class HarnessSpec extends SparkSpec {

  test("SparkEntry.each reports a throwing entry by name and message, runs the next, " +
      "and frees the failed entry's pins before it") {
    val pinned = spark.range(3).persist()
    var pinnedWhenThrown = false
    var pinnedAtNext = true
    var skippedRan = false
    def entry(f: SparkSession => DataFrame): (SparkSession, String) => DataFrame = (s, _) => f(s)
    val entries = Map(
      "c_next" -> entry { s =>
        pinnedAtNext = OpCache.trackedFor(s).exists(_ eq pinned)
        s.range(5).toDF()
      },
      "a_pins" -> entry { s =>
        OpCache.track(s, pinned).count()
        pinnedWhenThrown = OpCache.trackedFor(s).exists(_ eq pinned)
        throw new IllegalStateException("a_pins: no rows for you")
      },
      // not NonFatal: the loop still records it and goes on
      "b_fatal" -> entry { _ => throw new LinkageError("b_fatal: linkage") },
      "d_unpicked" -> entry { s => skippedRan = true; s.range(1).toDF() })
    // an explicit checkpoint dir keeps the loop's tmpfs opt-in off the
    // shared spec session
    val got = Scoped.withConf(spark, "spark.graft.stream.checkpointDir" -> specTempDir("each")) {
      SparkEntry.each(spark, entries, "spec", Some("^[abc]_")) { (_, fn) => fn(spark, sf).count() }
    }
    assert(got == Seq(
      "a_pins" -> Left("a_pins: no rows for you"),
      "b_fatal" -> Left("b_fatal: linkage"),
      "c_next" -> Right(5L)))
    assert(pinnedWhenThrown, "the failing entry's Dataset must be pinned when it throws")
    assert(!pinnedAtNext, "the failed entry's pin must be released before the next entry starts")
    assert(pinned.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(!skippedRan, "an entry the regex does not pick must not run")
  }
}
