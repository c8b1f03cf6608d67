package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed quantiles over an integer-valued column.
  *
  * Spark's built-in exact `percentile` aggregate materializes every input
  * value in ONE aggregation buffer — correct, but a single-JVM memory
  * ceiling that an exact-percentile pass over 2e10 rows cannot clear. This
  * operator computes the same SQL-standard interpolated quantiles as a
  * distributed plan instead. Interpolation is the two-product form
  * (1-frac)·lo + frac·hi — what BOTH Spark's `percentile` and DuckDB's
  * `quantile_cont` evaluate (QuantilesSpec pins the bitwise agreement;
  * the superficially-equivalent lo + (hi-lo)·frac drifts by an ULP on
  * some brackets and would break hash-equality):
  *
  *  1. value histogram: `groupBy(value)` — a partial-agg-friendly shuffle
  *     whose output is bounded by the DISTINCT-VALUE count (for fixed-range
  *     integer domains like cents, bounded by the range — corpus-size
  *     independent);
  *  2. rank-before-value via [[BlockScan.runningSums]] on the block key
  *     `value div 2^blockBits`: only the block-totals table
  *     (range / 2^blockBits rows) crosses a global window;
  *  3. each requested quantile's floor/ceil ranks locate their values via
  *     a |ps|-row broadcast containment join; interpolation is one IEEE
  *     expression on the two bracketing values.
  *
  * Returns a single-row DataFrame with an array<double> column `cuts`
  * holding the quantiles in ascending order — broadcast it against the
  * data for row-local binning/filtering.
  */
object Quantiles {

  def exactQuantiles(values: DataFrame, value: Column, ps: Seq[Double],
      blockBits: Int = 16): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    val s = values.sparkSession
    // 1. distributed value histogram
    val vc = values.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    // 2. rank-before-value via block prefix sums; cached — consumed by the
    // total count and both rank lookups
    val ranked = BlockScan.runningSums(vc, expr(s"v div ${1L << blockBits}"),
        Seq(col("v")), Seq("cum" -> col("cnt")))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .cache()
    // 3. quantile ranks → floor/ceil value lookup → interpolated cuts
    val nRow = ranked.agg(sum(col("cnt")).as("n"))
    val qs = s.createDataFrame(ps.zipWithIndex.map { case (p, i) => (i, p) })
      .toDF("i", "p")
      .crossJoin(broadcast(nRow))
      .withColumn("h", (col("n") - 1).cast("double") * col("p"))
      .withColumn("k_lo", floor(col("h")).cast("long"))
      .withColumn("k_hi", ceil(col("h")).cast("long"))
      .withColumn("frac", col("h") - floor(col("h")))
    def valueAtRank(k: String, out: String) = ranked
      .join(broadcast(qs.select(col("i"), col(k), col("frac"))),
        col("cum_before") <= col(k)
          && col(k) < col("cum_before") + col("cnt"))
      .select(col("i"), col("v").as(out), col("frac"))
    valueAtRank("k_lo", "v_lo")
      .join(valueAtRank("k_hi", "v_hi").drop("frac"), "i")
      .withColumn("cut",
        (lit(1.0) - col("frac")) * col("v_lo").cast("double")
          + col("frac") * col("v_hi").cast("double"))
      .agg(array_sort(collect_list(col("cut"))).as("cuts"))
  }

  /** Grouped form: exact quantiles of `value` per `group`, one output row
    * per (group, quantile index) — `(grp, i, cut)`. Same distributed plan
    * as [[exactQuantiles]] with every stage keyed by the group:
    * histogram on (grp, v); [[BlockScan.runningSums]] `by` grp, so the
    * block offsets partition on grp and order over ≤ range/2^blockBits
    * block rows; rank lookups join on (grp, i)
    * containment against the broadcast |groups|·|ps| rank table. No
    * single-buffer aggregate anywhere, so group cardinality and group SIZE
    * are both unbounded — the scale path for per-group exact percentiles
    * (built-in `percentile` buffers each group's values in one JVM).
    */
  def exactQuantilesByGroup(values: DataFrame, group: Column, value: Column,
      ps: Seq[Double], blockBits: Int = 16): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    val s = values.sparkSession
    val vc = values.select(group.as("grp"), value.cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = BlockScan.runningSums(vc, expr(s"v div ${1L << blockBits}"),
        Seq(col("v")), Seq("cum" -> col("cnt")), by = Seq(col("grp")))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .cache()
    val nPerGrp = ranked.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
    val pdf = s.createDataFrame(ps.zipWithIndex.map { case (p, i) => (i, p) })
      .toDF("i", "p")
    val qs = nPerGrp.crossJoin(broadcast(pdf))
      .withColumn("h", (col("n") - 1).cast("double") * col("p"))
      .withColumn("k_lo", floor(col("h")).cast("long"))
      .withColumn("k_hi", ceil(col("h")).cast("long"))
      .withColumn("frac", col("h") - floor(col("h")))
    def valueAtRank(k: String, out: String) = ranked
      .join(broadcast(qs.select(col("grp").as("q_grp"), col("i"), col(k),
          col("frac"))),
        col("grp") === col("q_grp")
          && col("cum_before") <= col(k)
          && col(k) < col("cum_before") + col("cnt"))
      .select(col("grp"), col("i"), col("v").as(out), col("frac"))
    valueAtRank("k_lo", "v_lo")
      .join(valueAtRank("k_hi", "v_hi").drop("frac"), Seq("grp", "i"))
      .withColumn("cut",
        (lit(1.0) - col("frac")) * col("v_lo").cast("double")
          + col("frac") * col("v_hi").cast("double"))
      .select(col("grp"), col("i"), col("cut"))
  }
}
