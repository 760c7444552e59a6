package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is named with its cause; every other query and oracle_sql.json
  * are still written, then the run exits 1 (the Bench contract). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the conf Bench times, so the oracle checks what is measured
    val spark = Session(cpus.toInt, Session.tuned)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_VERIFY_ONLY=q123,q124 dumps just those
    // queries (prefix match); the driver never sets it → full dump.
    val selected = SparkEntry.selected("SPARK_GRAFT_VERIFY_ONLY")
    val failed = selected.count { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        true
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
    if (failed > 0) {
      System.err.println(s"[verify] $failed of ${selected.size} queries failed")
      sys.exit(1)
    }
  }
}
