package graft.streaming

import graft.functions.Portable
import graft.queries.Quality
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming Count-Min Sketch maintenance — the monitoring shape of
  * q131's batch operator: events arrive in micro-batches and the D x W
  * counter grid is held as keyed streaming state (one long per touched
  * cell), so heavy-hitter estimates are available after every trigger
  * without re-scanning history. The cell geometry and the portable hash
  * are the SAME definitions q131 interpolates into both engines
  * (Quality.CmsW/CmsD are shared constants — the sketch cannot drift
  * from its batch twin), which is what makes the batch-equivalence
  * proof in StreamingSpec exact rather than statistical.
  *
  * State discipline at 100 TB: the state cardinality is bounded by
  * D * W cells (3 x 1024 here) REGARDLESS of stream cardinality — the
  * entire point of a sketch; each micro-batch shuffles only its own
  * (i, b) increments, partial-aggregated map-side before they reach the
  * state store. Counters are monotone, so the latest Update-mode row
  * per cell is the grid; estimates are min-of-D probes against it.
  */
object SketchStream {

  /** Raw streaming event row. */
  final case class Ev(event_id: Long, event_type: String)

  /** One counter cell's running state after a micro-batch. */
  final case class Cell(i: Int, b: Long, c: Long)

  /** Row-local (hash-row, bucket) points — q131's geometry verbatim. */
  def points(events: DataFrame): DataFrame = {
    val h = Portable.h64Spark("concat(k, '#', cast(i as string))")
    events.select(col("event_type").as("k"))
      .select(col("k"),
        explode(expr(s"sequence(0, ${Quality.CmsD - 1})")).as("i"))
      .select(col("i"), expr(s"($h) % ${Quality.CmsW}").as("b"))
  }

  /** The streaming sketch: emits each touched cell's running count per
    * micro-batch (Update mode). Increments combine map-side before the
    * state store sees them (the groupByKey is a keyed partial count).
    */
  def counters(spark: SparkSession, events: DataFrame): Dataset[Cell] = {
    import spark.implicits._
    points(events).as[(Int, Long)]
      .groupByKey(identity)
      .mapGroupsWithState[Long, Cell](GroupStateTimeout.NoTimeout) {
        case ((i, b), rows, state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          Cell(i, b, c)
      }
  }
}
