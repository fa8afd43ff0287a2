package graft

import java.nio.file.{Files, Paths}
import graft.api.GraftSession

/** Driver-contract correctness dump: every `SparkEntry.queries` result
  * to `outDir/<name>/` parquet plus the oracle SQL as
  * `outDir/oracle_sql.json` (`tools/oracle_check.py` replays it in
  * DuckDB), under the same `GraftSession.local` configuration Bench
  * and the tools use.
  * [[graft.tools.QuickVerify]] runs the same core on a subset. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    run(sfDir, outDir, SparkEntry.queries.keySet, verbose = false)
  }

  private[graft] def run(sfDir: String, outDir: String,
                         names: Set[String], verbose: Boolean): Unit = {
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => names.contains(q._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (verbose)
          println(f"[quick-verify] $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(o => names.contains(o._1))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
