package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a JSON string literal, escaping the quote, the backslash and
    * ALL control chars (< 0x20): a tab or CR in an entry's SQL, or a
    * newline in an exception message, would otherwise make the whole JSON
    * artifact unparseable. Shared by every main that writes JSON by hand. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: regex over query names, for fast local iteration
    val nameFilter = args.lift(2).map(_.r)
    val spark = GraftSession("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    streaming.Streams.useTmpfsCheckpoints(spark) // replay ckpts are scratch
    new java.io.File(outDir).mkdirs()
    // An entry that throws leaves no parquet, and a downstream compare
    // that iterates the out dir would silently shrink — record every
    // failure by name in _failed.json so absence is always visible.
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name -> String.valueOf(e.getMessage).take(500)
        }
        // entry-scoped cache hygiene: see OpCache.releaseScoped
        operators.OpCache.releaseScoped(spark)
      }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => nameFilter.forall(_.findFirstIn(k).isDefined) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the sf1+ sweep's memoized-oracle plan (tools/verify_sweep.py):
    // shared-signature memo builds + per-query swapped SQL. The driver's
    // own gate never reads this file — it compares oracle_sql.json as-is —
    // so a memo-assembly failure (OracleMemo's require() drift guards
    // firing after a chain-text refactor) must NOT abort the gate dump:
    // log loud, skip the file, and let the SWEEP fail loudly on its
    // absence instead.
    try {
      val memoJson = {
        val ms = operators.OracleMemo.memos.map { case (n, kind, payload) =>
          s"""{"name": ${q(n)}, "kind": ${q(kind)}, "payload": ${q(payload)}}"""
        }.mkString("[", ",", "]")
        val qs = operators.OracleMemo.memoizedQueries.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
        s"""{"dir_token": ${q(operators.OracleMemo.dirToken)}, "memos": $ms, "queries": $qs}"""
      }
      Files.writeString(Paths.get(s"$outDir/oracle_memos.json"), memoJson)
    } catch {
      case e: Throwable =>
        println(s"[verify] ORACLE MEMO BUILD FAILED (sweep plan not " +
          s"written; the driver gate is unaffected): ${e.getMessage}")
    }
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    GraftSession.stop(spark)
  }
}
