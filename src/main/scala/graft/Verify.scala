package graft
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names — dev-loop shortcut to
    // re-verify a subset (the driver always runs the full dump).
    val only = args.lift(2).map(_.r)
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    // GraftSession carries the conf the queries depend on (nanosAsLong for
    // the events fixture, UTC, NTZ-friendly parquet output, AQE) and the
    // core count (SPARK_GRAFT_CPUS, else the machine's cores).
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // A query that throws leaves no output (check.py reports ERROR),
      // never an earlier run's parquet that would still pass.
      val out = s"$outDir/$name"
      FileUtils.deleteDirectory(new java.io.File(out))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // release per-query cached frames
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
