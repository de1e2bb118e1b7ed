package graft.streaming

import graft.{Scoped, SparkSpec}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streams.run owns a stream's whole lifecycle: whether the run succeeds
  * or a batch throws, no query is left active, a scratch checkpoint is
  * gone, and the start-time settings read exactly what they read before. */
class StreamLifecycleSpec extends SparkSpec {
  private val keys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def settings(): Seq[(Option[String], String)] =
    keys.map(k => (spark.conf.getAll.get(k), spark.conf.get(k)))

  /** Run `onBatch` over one batch of three rows, under start-time values
    * for both keys, with the checkpoint root in `base`. */
  private def runIn(base: String, onBatch: Dataset[Row] => Unit,
      keptCkpt: Option[String] = None): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val w = input.toDF().writeStream
      .foreachBatch((b: Dataset[Row], _: Long) => onBatch(b))
    Scoped.withConf(spark, "spark.graft.stream.checkpointDir" -> base) {
      Streams.run(spark, w, Seq(keys(0) -> "3", keys(1) -> "false"), keptCkpt)
    }
  }

  /** This process's checkpoint root under `base`: empty once runs are done. */
  private def scratchLeft(base: String): Long = {
    val root: Path = Paths.get(base, s"p${ProcessHandle.current().pid()}")
    if (!Files.isDirectory(root)) 0L
    else { val ls = Files.list(root); try ls.count() finally ls.close() }
  }

  test("a successful run drains, stops, drops its checkpoint, restores settings") {
    val before = settings()
    val base = specTempDir("lifecycle_ckpt")
    var rows = 0L
    runIn(base, b => rows += b.count())
    assert(rows == 3L)
    assert(spark.streams.active.isEmpty, "the query must be stopped")
    assert(scratchLeft(base) == 0L, "scratch checkpoint left behind")
    assert(settings() == before, "start-time settings must be restored")
  }

  test("a run whose foreachBatch throws still stops, cleans up, restores settings") {
    val before = settings()
    val base = specTempDir("lifecycle_ckpt")
    val e = intercept[Exception] {
      runIn(base, _ => throw new IllegalStateException("batch failed"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "batch failed"), e.toString)
    assert(spark.streams.active.isEmpty, "the query must be stopped")
    assert(scratchLeft(base) == 0L, "scratch checkpoint left behind")
    assert(settings() == before, "start-time settings must be restored")
  }

  test("a caller interrupted mid-drain still stops the query") {
    // a throwing batch terminates its query by itself; a throw on the
    // caller's side of processAllAvailable does not, so only the stop in
    // `finally` keeps the query from running on
    val before = settings()
    val base = specTempDir("lifecycle_ckpt")
    val caller = Thread.currentThread()
    try intercept[InterruptedException](runIn(base, _ => caller.interrupt()))
    finally Thread.interrupted() // never leak the flag into later tests
    assert(spark.streams.active.isEmpty, "the query must be stopped")
    assert(scratchLeft(base) == 0L, "scratch checkpoint left behind")
    assert(settings() == before, "start-time settings must be restored")
  }

  test("a caller-owned checkpoint is kept") {
    val ckpt = specTempDir("lifecycle_kept")
    runIn(specTempDir("lifecycle_ckpt"), _ => (), Some(ckpt))
    assert(Files.isDirectory(Paths.get(ckpt, "offsets")),
      "run must not drop a checkpoint it was given")
  }
}
