package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("Usage: Verify <sfDir> <outDir> [nameSubstringFilter]")
      sys.exit(1)
    }
    val Array(sfDir, outDir) = args.take(2)
    // Dev-only: restrict to queries whose name contains ANY of the
    // comma-separated filter terms — Bench's SPARK_GRAFT_BENCH_FILTER
    // semantics (the driver always calls with 2 args → full run).
    val filter = args.lift(2).getOrElse("")
    val spark = GraftSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Data-contract preflight: name any testdata drift up front (round
    // 9's ts-layout change cost 18 queries before being diagnosed).
    // Warn-and-continue — partial correctness is still worth recording.
    Canary.check(spark, sfDir) match {
      case Seq() => System.err.println(s"[canary] data contract OK for $sfDir")
      case ps => ps.foreach(p => System.err.println(s"[canary] CONTRACT DRIFT: $p"))
    }
    SparkEntry.selected(filter).foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
