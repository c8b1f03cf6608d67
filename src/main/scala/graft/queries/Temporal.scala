package graft.queries

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators: theta/range join, as-of join, sliding & session
  * windows (batch-equivalent forms; the streaming variants live in
  * graft.streaming).
  *
  * The reference has no temporal operators — its time semantics are
  * control-plane month strings (reference src/lambda_functions/
  * fetch_raw_data.py:46-51,135); these are the SURVEY §2.B declared
  * temporal surface over the `events`/`orders` fixtures.
  *
  * Scale notes (100 TB posture):
  *  - q25 range join is an equi-join on the entity key with a residual
  *    range predicate — Catalyst plans a shuffled hash/sort-merge join on
  *    user_id and applies the range as a post-join filter; no
  *    BroadcastNestedLoop cross product.
  *  - q26 as-of join avoids the candidate blow-up entirely: union the two
  *    streams, sort within user partitions, carry the last order forward
  *    with an unbounded-preceding window — one shuffle on user_id, no
  *    join multiplicity. This is the plan that survives 1000 events/user
  *    against 1000 orders/user (a join-then-rank does 1e6 candidates/user).
  *  - q28 session windows are the islands pattern: one shuffle on the
  *    session key, two window passes, no self-join.
  */
object Temporal {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val all: Seq[QuerySpec] = Seq(

    // ---- range join: follow-up orders within 90 days, per customer --------
    // Equi-join on o_custkey with a residual date-range predicate: Catalyst
    // plans a shuffled hash/sort-merge join on the key and applies the range
    // as a post-join filter — no BroadcastNestedLoop cross product, so the
    // plan survives 1000 orders/customer at 100 TB.
    QuerySpec(
      "q25_range_join",
      Some(s"""SELECT a.o_orderkey, COUNT(*) AS n_follow,
        ${sqlDsum("b.o_totalprice")} AS follow_value
        FROM orders a JOIN orders b
          ON b.o_custkey = a.o_custkey
         AND b.o_orderdate > a.o_orderdate
         AND b.o_orderdate <= a.o_orderdate + INTERVAL 90 DAY
        GROUP BY a.o_orderkey"""),
      (s, d) => {
        val a = t(s, d, "orders").as("a")
        val b = t(s, d, "orders").as("b")
        a.join(b,
            col("b.o_custkey") === col("a.o_custkey")
              && col("b.o_orderdate") > col("a.o_orderdate")
              && col("b.o_orderdate") <= col("a.o_orderdate")
                   + expr("INTERVAL 90 DAY"))
          .groupBy(col("a.o_orderkey"))
          .agg(count(lit(1)).as("n_follow"),
            dsum(col("b.o_totalprice")).as("follow_value"))
      }),

    // ---- as-of join (backward): latest order at or before each event ------
    // Spark-first plan: union both streams, one shuffle on user_id, carry
    // the last seen order forward with a window — no join multiplicity.
    QuerySpec(
      "q26_asof_join",
      Some("""SELECT event_id, ts, user_id, asof_orderkey, asof_totalprice
        FROM (
          SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id,
            o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice,
            row_number() OVER (PARTITION BY e.event_id
              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) z
        WHERE rn = 1"""),
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("user_id").as("uid"), col("ts").as("etime"),
            col("event_id"))
        val o = t(s, d, "orders")
          .select(col("o_custkey").as("uid"),
            col("o_orderdate").as("etime"),
            col("o_orderkey"), col("o_totalprice"))
        // Merge both streams on (uid, time). Orders sort before events at
        // the same timestamp (kind 0 < kind 1) so an order dated exactly at
        // the event time is visible to it ("<=" as-of). Among equal-date
        // orders the larger orderkey wins (kind asc, key asc, last wins) —
        // matching the oracle's DESC,DESC row_number tiebreak.
        val merged = e.withColumn("kind", lit(1))
          .withColumn("o_orderkey", lit(null).cast("long"))
          .withColumn("o_totalprice", lit(null).cast("double"))
          .select(col("uid"), col("etime"), col("kind"), col("event_id"),
            col("o_orderkey"), col("o_totalprice"))
          .unionByName(
            o.withColumn("kind", lit(0))
              .withColumn("event_id", lit(null).cast("long"))
              .select(col("uid"), col("etime"), col("kind"), col("event_id"),
                col("o_orderkey"), col("o_totalprice")))
        val w = Window.partitionBy(col("uid"))
          .orderBy(col("etime"), col("kind"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        merged
          .withColumn("asof_orderkey",
            last(col("o_orderkey"), ignoreNulls = true).over(w))
          .withColumn("asof_totalprice",
            last(col("o_totalprice"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1 && col("asof_orderkey").isNotNull)
          .select(col("event_id"), col("etime").as("ts"),
            col("uid").as("user_id"),
            col("asof_orderkey"), col("asof_totalprice"))
      }),

    // ---- sliding window: 1 h width, 30 min slide over events --------------
    QuerySpec(
      "q27_sliding_window",
      Some(s"""WITH hits AS (
          SELECT ws, event_type, value FROM (
            SELECT unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                           time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                             - INTERVAL 30 MINUTE]) AS ws,
              event_type, value, CAST(ts AS TIMESTAMP) AS tts
            FROM events) z
          WHERE tts >= ws AND tts < ws + INTERVAL 60 MINUTE)
        SELECT ws, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total_value
        FROM hits GROUP BY 1, 2"""),
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .select(col("window.start").as("ws"), col("event_type"),
            col("n"), col("total_value"))),

    // ---- session window: 30 min inactivity gap per user (islands) ---------
    QuerySpec(
      "q28_session_window",
      Some(s"""WITH marked AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
            CASE WHEN CAST(ts AS TIMESTAMP)
                   - LAG(CAST(ts AS TIMESTAMP)) OVER
                     (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE THEN 1
                 WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL THEN 1 ELSE 0 END AS new_session
          FROM events),
        sessions AS (
          SELECT user_id, ts, value,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM marked)
        SELECT user_id, MIN(ts) AS session_start,
          MAX(ts) + INTERVAL 30 MINUTE AS session_end,
          COUNT(*) AS n_events, ${sqlDsum("value")} AS total_value
        FROM sessions GROUP BY user_id, session_id"""),
      (s, d) =>
        t(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            dsum(col("value")).as("total_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("total_value"))),

    // ---- watermark lateness planning (late-data budget sweep) --------------
    // The knob every EventStreams watermark hardcodes, PLANNED from
    // data: replay the stream in ARRIVAL order (event time + a pinned
    // hash-derived network delay of 0–120 s — the fixture carries no
    // arrival column) and, per candidate watermark W, count the events
    // whose event time already trails the running max event time by
    // more than W at their arrival — exactly the rows a streaming
    // aggregation with watermark W would drop. Output is the 3-point
    // drop-rate curve {60 s, 300 s, 900 s} an operator reads before
    // freezing the delay. The running max over arrival order is
    // block-decomposed like q132's sweep line: within-block prefix max
    // partitions on the 6-hour block, only the |blocks|-row totals
    // cross a global window, offsets broadcast back; the 3-way sweep
    // explode is row-local.
    // Not operators.BlockScan: a running max, and BlockScan sums only.
    QuerySpec(
      "q368_watermark_planning", {
        val dly = graft.functions.Portable
          .h64Duck("'d:' || CAST(event_id AS VARCHAR)")
        Some(s"""WITH e AS (SELECT event_id,
              epoch_ms(ts) AS ev_ms,
              epoch_ms(ts) + ($dly) % 120000 AS arr_ms
            FROM events),
          r AS (SELECT ev_ms,
              MAX(ev_ms) OVER (ORDER BY arr_ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS runmax_ms
            FROM e),
          sw AS (SELECT ev_ms, runmax_ms, w
            FROM r, (SELECT unnest([60, 300, 900]) AS w) z)
          SELECT w AS watermark_s, CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(COUNT(CASE WHEN ev_ms < runmax_ms - w * 1000
              THEN 1 END) AS BIGINT) AS n_late,
            CAST(COUNT(CASE WHEN ev_ms < runmax_ms - w * 1000
              THEN 1 END) * 1000000 // COUNT(*) AS BIGINT) AS late_ppm
          FROM sw GROUP BY 1""")
      },
      (s, d) => {
        val dly = graft.functions.Portable
          .h64Spark("concat('d:', cast(event_id as string))")
        val blockMs = 6L * 3600L * 1000L
        val e = t(s, d, "events")
          .select(col("event_id"),
            expr("unix_millis(cast(ts as timestamp))").as("ev_ms"))
          .withColumn("arr_ms", col("ev_ms") + expr(s"($dly) % 120000"))
          .withColumn("g", expr(s"arr_ms div $blockMs"))
        val wIn = Window.partitionBy(col("g"))
          .orderBy(col("arr_ms"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val within = e.withColumn("max_in", max(col("ev_ms")).over(wIn))
        val offs = e.groupBy(col("g"))
          .agg(max(col("ev_ms")).as("bmax"))
          .withColumn("off", max(col("bmax")).over(
            Window.orderBy(col("g"))
              .rowsBetween(Window.unboundedPreceding, -1)))
          .select(col("g"), col("off"))
        within.join(broadcast(offs), "g")
          .withColumn("runmax_ms",
            greatest(col("max_in"), coalesce(col("off"), col("max_in"))))
          .select(col("ev_ms"), col("runmax_ms"),
            explode(lit(Array(60, 300, 900))).as("w"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("n_events"),
            count(when(col("ev_ms") < col("runmax_ms")
              - col("w") * 1000, 1)).as("n_late"),
            expr("count(CASE WHEN ev_ms < runmax_ms - w * 1000 " +
              "THEN 1 END) * 1000000 div count(1)").as("late_ppm"))
          .withColumnRenamed("w", "watermark_s")
      })
  )
}
