package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Block-decomposed global running sums — the two-level scan of Blelloch,
  * "Prefix sums and their applications" (CMU-CS-90-190).
  *
  * A running sum over a data-sized frame is a single-task window if
  * written as `sum(v) over (order by …)`. This builder splits it so that
  * no window over data-sized input is unpartitioned:
  *
  *  1. in-block sums: one window partitioned on `(by…, g)` and ordered by
  *     `order`, where `g` is the block key;
  *  2. block totals: `sum(value)` grouped on `(by…, g)` over the window's
  *     output. The optimizer prunes the window from this branch, so it
  *     reads `df` a second time: cache `df` when it is costly to
  *     recompute;
  *  3. block offsets: the only window not partitioned on `g`, an
  *     exclusive running sum of the totals ordered by `g` (partitioned on
  *     `by`) — |groups| × |blocks| rows;
  *  4. the offsets join back on `(by…, g)`; with `by` empty the table is
  *     |blocks| rows and broadcasts, otherwise it is left to the planner.
  *
  * Output: `df` plus the block column `g` and, for each `(name, value)`,
  * a new column `name` = the inclusive running sum of `value` in the
  * total order `(by…, g, order…)`; exclusive sums are `name - value`.
  * `order` must break every tie for the sums to be deterministic, and
  * `by` must be plain column references of `df`. Values must be integral
  * or decimal: the decomposition re-associates the sum, which is exact
  * only without rounding.
  */
object BlockScan {

  def runningSums(df: DataFrame, block: Column, order: Seq[Column],
      sums: Seq[(String, Column)], by: Seq[Column] = Nil): DataFrame = {
    require(sums.nonEmpty && sums.forall(s => !df.columns.contains(s._1)))
    val wIn = Window.partitionBy(by :+ col("g"): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sums.foldLeft(df.withColumn("g", block)) {
      case (d, (name, v)) => d.withColumn(name, sum(v).over(wIn))
    }
    val totals = within.groupBy(by :+ col("g"): _*).agg(
      sum(sums.head._2).as(s"${sums.head._1}_tot"),
      sums.tail.map { case (name, v) => sum(v).as(s"${name}_tot") }: _*)
    // (by…, g) as the aggregate names them, for the window and the join
    val keys = totals.columns.take(by.size + 1).toSeq
    val wOff = Window.partitionBy(keys.init.map(col): _*)
      .orderBy(col("g")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = totals.select(keys.map(col) ++ sums.map { case (name, _) =>
      coalesce(sum(col(s"${name}_tot")).over(wOff), lit(0L))
        .as(s"${name}_off")
    }: _*)
    sums.foldLeft(
        within.join(if (by.isEmpty) broadcast(offs) else offs, keys)) {
      case (d, (name, _)) => d
        .withColumn(name, col(s"${name}_off") + col(name))
        .drop(s"${name}_off")
    }
  }
}
