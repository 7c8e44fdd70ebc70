package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession("WARN")
    new java.io.File(outDir).mkdirs()
    // the WRITE half of the q43/q44/q45 source round-trips — the DuckDB
    // compare of each read side then closes the loop
    SparkEntry.prepareFixtures(spark, sfDir)
    // SPARK_GRAFT_VERIFY_ONLY=q85_cosine_topk_ivf,... — dump (and list in
    // oracle_sql.json) only a subset, for fast targeted re-verification
    // while iterating; the driver never sets this.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty/blank env var = no filter, not "skip all"
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // NonFatal: one failing query is reported and the dump continues, but
      // OOM/fatal JVM errors abort — a partial dump after one is misleading
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
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
    // static oracles + data-dependent ones resolved against THIS fixture
    // dir (q126's autoPlanes literal) — the driver checks both identically
    val json = (SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, sfDir))
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
