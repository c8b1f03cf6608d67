package graft.tools

import org.apache.spark.sql.SparkSession

/** Prove the flagship `SparkEntry.entry` survives a VANILLA SparkSession
  * (no GraftSession conf, no extensions) — the environment an outside
  * smoke test might construct, and the only vanilla-session contract: q01
  * must not depend on the nanosAsLong conf (events) or the native
  * functions, which reach sessions only through GraftSession's extensions.
  */
object VanillaSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("vanilla-smoke")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[vanilla-smoke] entry rows=$n")
    assert(n > 0, "flagship must return rows under a vanilla session")
    spark.stop()
  }
}
