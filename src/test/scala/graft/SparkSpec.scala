package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Scratch dir for spec fixtures, deleted recursively at JVM exit so
    * repeated test runs don't accumulate parquet under /tmp. */
  def specTempDir(prefix: String): String = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  private val cleanupRegistered = new java.util.concurrent.atomic.AtomicBoolean
  private val tempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path])

  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    if (cleanupRegistered.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        tempDirs.asScala.foreach { root =>
          try {
            java.nio.file.Files.walk(root).sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => f.toFile.delete())
          } catch { case _: Throwable => () }
        }
      }))
    }
    p.toString
  }

  /** The standard graft session at local[8], wired before any spec runs.
    * The suite run has no last-suite hook inside the forked test JVM, so
    * the session is stopped by a shutdown hook of its own that runs ahead
    * of Spark's: Hadoop gives Spark's hook 30 s, and a stop that outlasts
    * them is interrupted while it deletes the block manager's dir under
    * SPARK_LOCAL_DIRS, which is then left behind. */
  lazy val session: SparkSession = {
    val s = GraftSession("8",
      "spark.app.name" -> "graft-spec",
      "spark.sql.debug.maxToStringFields" -> "100",
      "spark.sql.maxMetadataStringLength" -> "1000")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => s.stop(),
      sparkHookPriority + 1, 5, java.util.concurrent.TimeUnit.MINUTES)
    s
  }

  /** Spark's own shutdown hook runs at FileSystem's priority + 30. */
  private val sparkHookPriority = org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 30
}
