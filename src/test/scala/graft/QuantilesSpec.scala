package graft

import graft.operators.Quantiles
import org.apache.spark.sql.functions._

/** The distributed exact-quantile operator must agree BITWISE with
  * Spark's single-buffer `percentile` aggregate (which in turn matches
  * DuckDB's quantile_cont — the q102 oracle) on any integer distribution:
  * duplicates, skew, singletons, constant columns.
  */
class QuantilesSpec extends SparkSpec {

  private val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)

  private def builtin(vals: Seq[Long]): Seq[Double] = {
    import spark.implicits._
    vals.toDF("v")
      .agg(expr(s"percentile(v, array(${ps.mkString(", ")}))"))
      .head().getSeq[Double](0)
  }

  private def distributed(vals: Seq[Long]): Seq[Double] = {
    import spark.implicits._
    Quantiles.exactQuantiles(vals.toDF("v"), col("v"), ps)
      .head().getSeq[Double](0).sorted
  }

  test("matches builtin percentile on random, skewed, and degenerate data") {
    val rng = new scala.util.Random(41)
    val cases = Seq(
      Seq.fill(5000)(rng.nextInt(100000).toLong),       // dense duplicates
      Seq.fill(3000)((rng.nextGaussian() * 1e6).toLong), // negatives + spread
      Seq.fill(2000)(math.abs(rng.nextLong()) % 20),     // tiny domain, ties
      Seq(42L),                                          // singleton
      Seq.fill(100)(7L),                                 // constant
      (1L to 10L)                                        // exact decile grid
    )
    cases.zipWithIndex.foreach { case (vals, i) =>
      val b = builtin(vals)
      val d = distributed(vals)
      // builtin returns in request order; ps here are ascending so the
      // sorted distributed cuts align index-by-index
      assert(d == b.sorted, s"case $i: distributed $d != builtin $b")
    }
  }

  test("empty input yields an empty cut list, not a crash") {
    import spark.implicits._
    val cuts = Quantiles.exactQuantiles(
      Seq.empty[Long].toDF("v"), col("v"), ps)
      .head().getSeq[Double](0)
    assert(cuts.isEmpty)
  }

  test("block granularity does not change the result") {
    import spark.implicits._
    val rng = new scala.util.Random(43)
    val vals = Seq.fill(2000)(rng.nextInt(1000000).toLong)
    val df = vals.toDF("v")
    val base = Quantiles.exactQuantiles(df, col("v"), ps)
      .head().getSeq[Double](0).sorted
    for (bits <- Seq(4, 10, 24)) {
      val got = Quantiles.exactQuantiles(df, col("v"), ps, blockBits = bits)
        .head().getSeq[Double](0).sorted
      assert(got == base, s"blockBits=$bits changed the quantiles")
    }
  }

  test("negative domains pick a sane block key (floor division)") {
    // `div` floors toward negative infinity in Spark, so negative values
    // land in well-ordered blocks; the cuts must still match.
    val vals = Seq.fill(1000)((scala.util.Random.nextInt(2000) - 1000).toLong)
    assert(distributed(vals) == builtin(vals).sorted)
  }
}
