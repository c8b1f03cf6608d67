package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.functions.Portable.{toksSpark, toksDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operations analytics: hierarchy flattening (BOM closure), survey raking
  * (IPF), mergeable sketch states, market bars (OHLC), survival curves
  * (Kaplan-Meier with censoring), causal difference-in-differences, and
  * statistical process control (I-MR charts).
  *
  * The iterative operators (closure, raking) pin the SAME bounded round
  * count in both engines — the oracle as unrolled MATERIALIZED CTE stages
  * (the q233 technique), Spark as loops with localCheckpoint truncation.
  * Floats follow the house rules: decimal-grid sums, pinned IEEE
  * expression trees, fold-left products over identically-ordered arrays.
  */
object Operations {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Doubling rounds for the ancestor closure: path lengths up to
    * 2^DblRounds = 32 levels — covers a binary-tree hierarchy over any
    * int32-sized key space (depth <= 31), at ANY scale factor.
    */
  private val DblRounds = 5

  /** IPF (raking) iterations — pinned in both engines. */
  private val IpfRounds = 3

  /** HLL bucket split of the 60-bit portable hash: 64 buckets (top 6
    * bits) x 54-bit remainder — mirrors q134's layout.
    */
  private val HllField = 1L << 54

  /** alpha_64 * 64^2 * 2^56 for the scaled harmonic-mean estimate (the
    * q134 literal, recomputed here to keep this file self-contained).
    */
  private val HllEstNum: Double = 0.709 * 64.0 * 64.0 * 7.2057594037927936e16

  /** Fulfillment-observation cutoff for the survival curve: orders whose
    * final shipment lands after this date are right-CENSORED at it.
    */
  private val KmCutoff = "2001-03-01"

  /** Epoch-ms boundary (2024-01-16T00:00Z) splitting the events window
    * into pre/post periods for the difference-in-differences readout —
    * integer unix-ms compare, timezone-free in both engines.
    */
  private val DidSplitMs = 1705363200000L

  val all: Seq[QuerySpec] = Seq(

    // ---- BOM ancestor closure (iterative doubling) -------------------------
    // Hierarchy flattening — the transitive-closure query behind
    // bill-of-materials explosions and org-chart rollups, over the
    // deterministic binary-tree hierarchy part k -> parent k div 2. The
    // naive level-by-level walk is O(depth) joins; iterative DOUBLING
    // (R ∪ R∘R per round) reaches depth 2^r in r rounds — 5 rounds
    // cover any int32 key space, the same O(log) round discipline as
    // q48's connected components. Every round is a keyed equi-join +
    // distinct; the (desc, anc) pair count is N·depth ~ linearithmic.
    // Oracle: the same 5 rounds as unrolled MATERIALIZED CTEs.
    QuerySpec(
      "q249_bom_closure", {
        val rounds = (1 to DblRounds).map { k =>
          s""",
          r$k AS MATERIALIZED (SELECT DISTINCT c, a, d FROM (
            SELECT c, a, d FROM r${k - 1}
            UNION ALL SELECT x.c AS c, y.a AS a, x.d + y.d AS d
              FROM r${k - 1} x JOIN r${k - 1} y ON x.a = y.c) z)"""
        }.mkString
        Some(s"""WITH r0 AS MATERIALIZED (SELECT p_partkey AS c,
              p_partkey // 2 AS a, 1 AS d
            FROM part WHERE p_partkey >= 2)$rounds
          SELECT d AS depth, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM r$DblRounds GROUP BY 1""")
      },
      (s, d) => {
        var r = t(s, d, "part")
          .filter(col("p_partkey") >= 2)
          .select(col("p_partkey").as("c"),
            expr("p_partkey div 2").as("a"), lit(1).as("d"))
          .localCheckpoint(true)
        for (_ <- 1 to DblRounds) {
          val hop = r.select(col("c"), col("a").as("m"), col("d").as("d1"))
            .join(r.select(col("c").as("m"), col("a").as("a2"),
              col("d").as("d2")), Seq("m"))
            .select(col("c"), col("a2").as("a"),
              (col("d1") + col("d2")).as("d"))
          r = r.unionByName(hop).distinct().localCheckpoint(true)
        }
        r.groupBy(col("d").as("depth")).agg(count(lit(1)).as("n_pairs"))
      }),

    // ---- IPF raking (survey weight calibration) ----------------------------
    // Iterative proportional fitting: rescale the priority x status cell
    // weights until both margins match uniform targets — the calibration
    // step survey/panel pipelines run before any weighted estimate. Three
    // pinned rounds of (row-scale, column-scale); every margin sum rides
    // the decimal grid, every scale factor is the same two-divide IEEE
    // tree. 100 TB plan: ONE fact aggregation to the bounded cell grain,
    // then O(cells) arithmetic per round with broadcast margins.
    QuerySpec(
      "q250_ipf_raking", {
        val rounds = (1 to IpfRounds).map { k =>
          s""",
          rk$k AS MATERIALIZED (SELECT p, ${Exact.sqlDsum("w")} AS rs
            FROM w${k - 1} GROUP BY 1),
          wa$k AS MATERIALIZED (SELECT w.p, w.st, w.w * (t.tr / r.rs) AS w
            FROM w${k - 1} w JOIN rk$k r ON w.p = r.p, tgt t),
          ck$k AS MATERIALIZED (SELECT st, ${Exact.sqlDsum("w")} AS cs
            FROM wa$k GROUP BY 1),
          w$k AS MATERIALIZED (SELECT w.p, w.st, w.w * (t.tc / c.cs) AS w
            FROM wa$k w JOIN ck$k c ON w.st = c.st, tgt t)"""
        }.mkString
        Some(s"""WITH cells AS MATERIALIZED (SELECT o_orderpriority AS p,
              o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2),
          tgt AS MATERIALIZED (SELECT
              CAST(SUM(n) AS DOUBLE) / CAST(COUNT(DISTINCT p) AS DOUBLE)
                AS tr,
              CAST(SUM(n) AS DOUBLE) / CAST(COUNT(DISTINCT st) AS DOUBLE)
                AS tc
            FROM cells),
          w0 AS (SELECT p, st, CAST(n AS DOUBLE) AS w FROM cells)$rounds
          SELECT c.p, c.st, c.n, round(w.w, 4) AS w_raked
          FROM cells c JOIN w$IpfRounds w ON c.p = w.p AND c.st = w.st""")
      },
      (s, d) => {
        val cells = t(s, d, "orders")
          .groupBy(col("o_orderpriority").as("p"),
            col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("n"))
          .cache() // bounded cell grain; feeds targets, rounds, final join
        val tgt = cells.agg(
          (sum(col("n")).cast("double")
            / countDistinct(col("p")).cast("double")).as("tr"),
          (sum(col("n")).cast("double")
            / countDistinct(col("st")).cast("double")).as("tc"))
        var w = cells.select(col("p"), col("st"),
          col("n").cast("double").as("w"))
        for (_ <- 1 to IpfRounds) {
          val rs = w.groupBy(col("p")).agg(Exact.dsum(col("w")).as("rs"))
          w = w.join(broadcast(rs), Seq("p")).crossJoin(broadcast(tgt))
            .select(col("p"), col("st"),
              (col("w") * (col("tr") / col("rs"))).as("w"))
          val cs = w.groupBy(col("st")).agg(Exact.dsum(col("w")).as("cs"))
          w = w.join(broadcast(cs), Seq("st")).crossJoin(broadcast(tgt))
            .select(col("p"), col("st"),
              (col("w") * (col("tc") / col("cs"))).as("w"))
            // truncate lineage per round: six margin-join stages over a
            // 15-row frame otherwise compound into one deep plan whose
            // re-analysis dominates wall clock (measured 7.8 s -> sub-s)
            .localCheckpoint(true)
        }
        cells.join(broadcast(w), Seq("p", "st"))
          .select(col("p"), col("st"), col("n"),
            round(col("w"), 4).as("w_raked"))
      }),

    // ---- HLL register merge (mergeable sketch state) -----------------------
    // The property that makes HyperLogLog THE 100 TB distinct counter:
    // per-partition register states union by per-register MAX. q134
    // builds per-group sketches; this merges the per-event-type user
    // sketches into one global sketch and checks it against the exact
    // global distinct — register states and the scaled harmonic sum stay
    // exact integers (the q134 discipline), so the merged STATE
    // hash-matches the oracle, not just the estimate.
    QuerySpec(
      "q251_hll_merge", {
        val h = Portable.h64Duck("CAST(user_id AS VARCHAR)")
        Some(s"""WITH x AS (SELECT event_type AS g,
            ($h) // $HllField AS bucket, ($h) % $HllField AS rest
          FROM events),
        reg AS (SELECT g, bucket,
            MAX(CASE WHEN rest = 0 THEN 55
                ELSE 55 - length(bin(rest)) END) AS m
          FROM x GROUP BY g, bucket),
        mg AS (SELECT bucket, MAX(m) AS m FROM reg GROUP BY 1),
        z AS (SELECT COUNT(*) AS present,
            CAST(SUM(CAST(1 AS BIGINT) << CAST(56 - m AS INTEGER))
              AS BIGINT) AS zp
          FROM mg),
        gs AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n_groups FROM reg),
        e AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM events)
        SELECT gs.n_groups, e.exact_users,
          zp + (64 - present) * (CAST(1 AS BIGINT) << 56) AS z_scaled,
          CAST(64 - present AS BIGINT) AS n_empty,
          (abs($HllEstNum
              / (zp + (64 - present) * (CAST(1 AS BIGINT) << 56))
            - exact_users) <= 0.25 * exact_users) AS est_ok
        FROM z, gs, e""")
      },
      (s, d) => {
        val h = Portable.h64Spark("cast(user_id as string)")
        val ev = t(s, d, "events")
        val x = ev.select(col("event_type").as("g"),
          expr(s"($h) div $HllField").as("bucket"),
          expr(s"($h) % $HllField").as("rest"))
        val reg = x.groupBy(col("g"), col("bucket"))
          .agg(max(when(col("rest") === 0, 55)
            .otherwise(lit(55) - length(bin(col("rest"))))).as("m"))
          .cache() // |groups| x 64 registers; feeds merge AND group count
        val mg = reg.groupBy(col("bucket")).agg(max(col("m")).as("m"))
        val z = mg.agg(count(lit(1)).as("present"),
          sum(expr("shiftleft(cast(1 as bigint), cast(56 - m as int))"))
            .as("zp"))
        val gs = reg.agg(countDistinct(col("g")).as("n_groups"))
        val e = ev.agg(countDistinct(col("user_id")).as("exact_users"))
        val zScaled =
          col("zp") + (lit(64) - col("present")) * lit(1L << 56)
        z.crossJoin(broadcast(gs)).crossJoin(broadcast(e))
          .select(col("n_groups"), col("exact_users"),
            zScaled.as("z_scaled"),
            (lit(64) - col("present")).cast("long").as("n_empty"),
            (abs(lit(HllEstNum) / zScaled - col("exact_users"))
              <= lit(0.25) * col("exact_users")).as("est_ok"))
      }),

    // ---- OHLC bars (market-data resampling) --------------------------------
    // The canonical time-series downsample: per day, the first (open),
    // max (high), min (low), and last (close) event value plus the trade
    // count. First/last ride two rank windows over the SAME day-keyed
    // exchange with (ms, event_id) as the total order — no self-join,
    // no argmin ambiguity under timestamp ties. 100 TB plan: one
    // day-partitioned window pass feeding one day-grain aggregate.
    QuerySpec(
      "q252_ohlc_bars",
      Some("""WITH b AS (SELECT CAST(ts AS DATE) AS day, value,
            epoch_ms(ts) AS ms, event_id FROM events),
        r AS (SELECT day, value,
            ROW_NUMBER() OVER (PARTITION BY day
              ORDER BY ms, event_id) AS rn_a,
            ROW_NUMBER() OVER (PARTITION BY day
              ORDER BY ms DESC, event_id DESC) AS rn_d
          FROM b)
        SELECT day, MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
          MAX(value) AS high_v, MIN(value) AS low_v,
          MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
          CAST(COUNT(*) AS BIGINT) AS n_trades
        FROM r GROUP BY 1"""),
      (s, d) => {
        val b = t(s, d, "events")
          .select(col("ts").cast("date").as("day"), col("value"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"),
            col("event_id"))
        val wa = Window.partitionBy(col("day"))
          .orderBy(col("ms"), col("event_id"))
        val wd = Window.partitionBy(col("day"))
          .orderBy(col("ms").desc, col("event_id").desc)
        b.withColumn("rn_a", row_number().over(wa))
          .withColumn("rn_d", row_number().over(wd))
          .groupBy(col("day"))
          .agg(max(when(col("rn_a") === 1, col("value"))).as("open_v"),
            max(col("value")).as("high_v"), min(col("value")).as("low_v"),
            max(when(col("rn_d") === 1, col("value"))).as("close_v"),
            count(lit(1)).as("n_trades"))
      }),

    // ---- Kaplan-Meier survival (time-to-ship with censoring) ---------------
    // The estimator that handles what a plain ECDF cannot: orders whose
    // final shipment falls after the observation cutoff are right-
    // CENSORED — they contribute to the at-risk denominator up to their
    // censoring time without ever "dying". S(t) multiplies (1 - d/n)
    // across death times; the survival product folds LEFT over the SAME
    // t-ordered factor array in both engines (Spark `aggregate`, DuckDB
    // `list_reduce` — identical association, bit-identical doubles).
    // 100 TB plan: one order-key join + one t-grain aggregate (t is
    // time-bounded); the factor array is |t|-bounded and broadcast.
    QuerySpec(
      "q253_kaplan_meier",
      Some(s"""WITH ship AS (SELECT l_orderkey,
            MAX(CAST(l_shipdate AS DATE)) AS ship
          FROM lineitem GROUP BY 1),
        ord AS (SELECT CAST(o.o_orderdate AS DATE) AS od, s.ship
          FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
          WHERE CAST(o.o_orderdate AS DATE) <= DATE '$KmCutoff'),
        ev AS (SELECT CAST(CASE WHEN ship <= DATE '$KmCutoff'
              THEN datediff('day', od, ship)
              ELSE datediff('day', od, DATE '$KmCutoff') END AS BIGINT) AS t,
            CASE WHEN ship <= DATE '$KmCutoff' THEN 1 ELSE 0 END AS death
          FROM ord),
        g AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d,
            CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
        rk AS (SELECT t, d, c,
            n - CAST(COALESCE(SUM(c) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS nr
          FROM g, tot),
        f AS (SELECT t, d, c, nr,
            1.0 - CAST(d AS DOUBLE) / CAST(nr AS DOUBLE) AS factor
          FROM rk),
        fl AS (SELECT list(factor ORDER BY t) AS fs,
            list(t ORDER BY t) AS ts FROM f)
        SELECT f.t, f.nr AS n_risk, f.d AS n_deaths,
          f.c - f.d AS n_censored,
          round(list_reduce(fs[1 : list_position(ts, f.t)],
            (a, b) -> a * b), 6) AS survival
        FROM f, fl"""),
      (s, d) => {
        val cutoff = lit(KmCutoff).cast("date")
        val ship = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(max(col("l_shipdate").cast("date")).as("ship"))
        val ord = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
          .filter(col("od") <= cutoff)
          .join(ship, col("o_orderkey") === col("l_orderkey"))
        val ev = ord.select(
          when(col("ship") <= cutoff, datediff(col("ship"), col("od")))
            .otherwise(datediff(cutoff, col("od"))).cast("long").as("t"),
          when(col("ship") <= cutoff, 1L).otherwise(0L).as("death"))
        val g = ev.groupBy(col("t"))
          .agg(sum(col("death")).as("d"), count(lit(1)).as("c"))
        val tot = g.agg(sum(col("c")).as("n"))
        val rk = g.crossJoin(broadcast(tot)) // 1-row total
          .withColumn("nr", col("n") - coalesce(sum(col("c")).over(
            Window.orderBy(col("t"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val f = rk.select(col("t"), col("d"), col("c"), col("nr"),
          (lit(1.0) - col("d").cast("double") / col("nr").cast("double"))
            .as("factor")).cache() // bounded |t| grain; feeds rows + fold
        val fl = f.agg(
          expr("transform(array_sort(collect_list(struct(t, factor)))," +
            " x -> x.factor)").as("fs"),
          expr("transform(array_sort(collect_list(struct(t, factor)))," +
            " x -> x.t)").as("ts"))
        f.crossJoin(broadcast(fl)) // 1-row bounded factor arrays
          .select(col("t"), col("nr").as("n_risk"), col("d").as("n_deaths"),
            (col("c") - col("d")).as("n_censored"),
            round(expr("aggregate(slice(fs, 1, cast(array_position(ts, t) as int))," +
              " cast(1.0 as double), (a, b) -> a * b)"), 6).as("survival"))
      }),

    // ---- difference-in-differences ------------------------------------------
    // The workhorse causal readout: (treatment post - pre) minus
    // (control post - pre) on mean event value, with a deterministic
    // treatment assignment (odd user ids) and an integer epoch-ms period
    // split. Four cell means from ONE conditional-aggregate scan on the
    // decimal grid; the DiD is a pinned three-subtract tree. Complements
    // q182 (proportions z), q215 (CUPED), q227 (Welch): the
    // panel-structure estimator of the experimentation kit.
    QuerySpec(
      "q254_diff_in_diff", {
        def cell(tr: Int, po: Int): String =
          s"user_id % 2 = $tr AND (CASE WHEN epoch_ms(ts) >= $DidSplitMs " +
            s"THEN 1 ELSE 0 END) = $po"
        def n(tr: Int, po: Int) =
          s"CAST(COUNT(CASE WHEN ${cell(tr, po)} THEN 1 END) AS BIGINT)"
        def sm(tr: Int, po: Int) =
          Exact.sqlDsum(s"CASE WHEN ${cell(tr, po)} THEN value END")
        Some(s"""WITH st AS (SELECT
            ${n(1, 0)} AS n10, ${n(1, 1)} AS n11,
            ${n(0, 0)} AS n00, ${n(0, 1)} AS n01,
            ${sm(1, 0)} AS s10, ${sm(1, 1)} AS s11,
            ${sm(0, 0)} AS s00, ${sm(0, 1)} AS s01
          FROM events),
        m AS (SELECT n10, n11, n00, n01,
            s10 / CAST(n10 AS DOUBLE) AS m10,
            s11 / CAST(n11 AS DOUBLE) AS m11,
            s00 / CAST(n00 AS DOUBLE) AS m00,
            s01 / CAST(n01 AS DOUBLE) AS m01
          FROM st)
        SELECT n10 AS n_treat_pre, n11 AS n_treat_post,
          n00 AS n_ctrl_pre, n01 AS n_ctrl_post,
          round(m10, 4) AS mean_treat_pre, round(m11, 4) AS mean_treat_post,
          round(m00, 4) AS mean_ctrl_pre, round(m01, 4) AS mean_ctrl_post,
          round((m11 - m10) - (m01 - m00), 4) AS did
        FROM m""")
      },
      (s, d) => {
        val tr = col("user_id") % 2
        val po = when(expr("unix_millis(cast(ts as timestamp))")
          >= DidSplitMs, 1).otherwise(0)
        def cell(a: Int, b: Int) = tr === a && po === b
        val st = t(s, d, "events").agg(
          count(when(cell(1, 0), 1)).as("n10"),
          count(when(cell(1, 1), 1)).as("n11"),
          count(when(cell(0, 0), 1)).as("n00"),
          count(when(cell(0, 1), 1)).as("n01"),
          Exact.dsum(when(cell(1, 0), col("value"))).as("s10"),
          Exact.dsum(when(cell(1, 1), col("value"))).as("s11"),
          Exact.dsum(when(cell(0, 0), col("value"))).as("s00"),
          Exact.dsum(when(cell(0, 1), col("value"))).as("s01"))
        val m = st.select(col("n10"), col("n11"), col("n00"), col("n01"),
          (col("s10") / col("n10").cast("double")).as("m10"),
          (col("s11") / col("n11").cast("double")).as("m11"),
          (col("s00") / col("n00").cast("double")).as("m00"),
          (col("s01") / col("n01").cast("double")).as("m01"))
        m.select(col("n10").as("n_treat_pre"), col("n11").as("n_treat_post"),
          col("n00").as("n_ctrl_pre"), col("n01").as("n_ctrl_post"),
          round(col("m10"), 4).as("mean_treat_pre"),
          round(col("m11"), 4).as("mean_treat_post"),
          round(col("m00"), 4).as("mean_ctrl_pre"),
          round(col("m01"), 4).as("mean_ctrl_post"),
          round((col("m11") - col("m10")) - (col("m01") - col("m00")), 4)
            .as("did"))
      }),

    // ---- I-MR control chart (statistical process control) ------------------
    // Shewhart individuals + moving-range chart over the daily mean event
    // value: center line, the 2.66·MRbar control limits, and per-day
    // out-of-control flags — the drift monitor a data-quality pipeline
    // runs on every metric stream. Daily means come off the decimal grid;
    // the moving range is one lag over the bounded day grain; limits are
    // scalar broadcasts. 100 TB plan: one day-grain partial agg, then
    // O(|days|) arithmetic.
    QuerySpec(
      "q255_imr_chart",
      Some(s"""WITH dayx AS (SELECT CAST(ts AS DATE) AS day,
            ${Exact.sqlDavg("value")} AS xbar
          FROM events GROUP BY 1),
        mr AS (SELECT day, xbar,
            abs(xbar - lag(xbar) OVER (ORDER BY day)) AS mrv
          FROM dayx),
        lim AS (SELECT ${Exact.sqlDavg("xbar")} AS center,
            ${Exact.sqlDsum("mrv")} / CAST(COUNT(mrv) AS DOUBLE) AS mrbar
          FROM mr)
        SELECT day, round(xbar, 4) AS xbar, round(mrv, 4) AS mr,
          round(center + 2.66 * mrbar, 4) AS ucl,
          round(center - 2.66 * mrbar, 4) AS lcl,
          (xbar > center + 2.66 * mrbar OR xbar < center - 2.66 * mrbar)
            AS out_of_control
        FROM mr, lim"""),
      (s, d) => {
        val dayx = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(Exact.davg(col("value")).as("xbar"))
        val mr = dayx.withColumn("mrv",
          abs(col("xbar") - lag(col("xbar"), 1)
            .over(Window.orderBy(col("day")))))
          .cache() // bounded |days| grain; feeds rows AND limits
        val lim = mr.agg(Exact.davg(col("xbar")).as("center"),
          (Exact.dsum(col("mrv")) / count(col("mrv")).cast("double"))
            .as("mrbar"))
        val ucl = col("center") + lit(2.66) * col("mrbar")
        val lcl = col("center") - lit(2.66) * col("mrbar")
        mr.crossJoin(broadcast(lim)) // 1-row scalar limits
          .select(col("day"), round(col("xbar"), 4).as("xbar"),
            round(col("mrv"), 4).as("mr"), round(ucl, 4).as("ucl"),
            round(lcl, 4).as("lcl"),
            (col("xbar") > ucl || col("xbar") < lcl).as("out_of_control"))
      }),

    // ---- incremental JOIN-view maintenance ---------------------------------
    // The delta identity materialized-view engines apply: for V =
    // agg(orders ⋈ customer), V_new = V_base ⊎ agg(Δorders ⋈ customer)
    // — only the DELTA re-joins, never the base fact. The fixture
    // splits orders 90/10 by key, maintains the per-nation revenue view
    // incrementally, and publishes both the incrementally-maintained
    // and the from-scratch totals with a consistency flag (exact cents,
    // so the flag is a true equality, not a tolerance). 100 TB plan:
    // base state is a |nations|-grain table; maintenance cost is
    // |Δ| ⋈ customer — one delta-sized keyed join.
    QuerySpec(
      "q272_join_ivm",
      Some("""WITH base AS (SELECT c_nationkey AS nation,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_orderkey % 10 <> 0 GROUP BY 1),
        delta AS (SELECT c_nationkey AS nation,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_orderkey % 10 = 0 GROUP BY 1),
        incr AS (SELECT COALESCE(b.nation, d.nation) AS nation,
            COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS cents
          FROM base b FULL OUTER JOIN delta d ON b.nation = d.nation),
        full_v AS (SELECT c_nationkey AS nation,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
        SELECT f.nation, f.cents AS full_cents,
          CAST(i.cents AS BIGINT) AS incr_cents,
          f.cents = i.cents AS consistent
        FROM full_v f JOIN incr i ON f.nation = i.nation"""),
      (s, d) => {
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        def view(o: DataFrame): DataFrame = o
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nation"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val orders = t(s, d, "orders").cache() // split twice + full view
        val base = view(orders.filter(col("o_orderkey") % 10 =!= 0))
        val delta = view(orders.filter(col("o_orderkey") % 10 === 0))
        val incr = base.select(col("nation"), col("cents").as("bc"))
          .join(delta.select(col("nation"), col("cents").as("dc")),
            Seq("nation"), "full_outer")
          .select(col("nation"),
            (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("ic"))
        view(orders)
          .join(incr, Seq("nation"))
          .select(col("nation"), col("cents").as("full_cents"),
            col("ic").as("incr_cents"),
            (col("cents") === col("ic")).as("consistent"))
      }),

    // ---- out-of-order arrival audit ----------------------------------------
    // The metric that sizes a streaming pipeline's watermark: how often
    // do events ARRIVE (event_id order) with timestamps behind the
    // user's running maximum, and by how much. One user-partitioned
    // running-max window in arrival order; per-type late counts, rates,
    // and the worst disorder in ms — exactly the statistic that decides
    // `withWatermark`'s delay. 100 TB plan: one user-keyed exchange
    // shared by the window, then a |types|-grain rollup.
    QuerySpec(
      "q273_ooo_audit",
      Some("""WITH b AS (SELECT user_id, event_type, event_id,
            epoch_ms(ts) AS ms FROM events),
        w AS (SELECT event_type, ms,
            MAX(ms) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM b)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(CASE WHEN ms < pm THEN 1 END) AS BIGINT) AS n_late,
          round(CAST(COUNT(CASE WHEN ms < pm THEN 1 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS late_rate,
          MAX(CASE WHEN ms < pm THEN pm - ms END) AS max_disorder_ms
        FROM w GROUP BY 1"""),
      (s, d) => {
        val b = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
        val win = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val w = b.withColumn("pm", max(col("ms")).over(win))
        w.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            count(when(col("ms") < col("pm"), 1)).as("n_late"),
            round(count(when(col("ms") < col("pm"), 1)).cast("double")
              / count(lit(1)).cast("double"), 6).as("late_rate"),
            max(when(col("ms") < col("pm"), col("pm") - col("ms")))
              .as("max_disorder_ms"))
      }),

    // ---- group-sequential A/B monitoring (O'Brien-Fleming looks) -----------
    // The peeking-safe experiment readout: the purchase-rate z between
    // the deterministic arms is evaluated at three interim looks (the
    // first/middle/last thirds of the event-id range) against the
    // O'Brien-Fleming boundaries (3.471 / 2.454 / 2.004 for K=3) — wide
    // early, nominal late, so cumulative alpha stays 0.05. Each look is
    // a conditional aggregate over the id prefix; z is the q182 pooled
    // two-proportion tree. 100 TB plan: events fan out to <= 3 looks
    // (broadcast look table), ONE (look) partial agg, O(3) arithmetic.
    QuerySpec(
      "q274_group_sequential",
      Some("""WITH bounds AS (SELECT CAST(MIN(event_id) AS BIGINT) AS mn,
            CAST(MAX(event_id) AS BIGINT) AS mx FROM events),
        looks AS (SELECT unnest([1, 2, 3]) AS look,
            unnest([3.471, 2.454, 2.004]) AS bd),
        e AS (SELECT event_id, user_id % 2 AS tr,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c
          FROM events),
        x AS (SELECT l.look, l.bd, e.tr, e.c
          FROM e, looks l, bounds b
          WHERE e.event_id < b.mn + ((b.mx - b.mn + 1) * l.look) // 3 + 1),
        a AS (SELECT look, bd,
            CAST(SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN tr = 1 THEN c ELSE 0 END) AS BIGINT) AS ka,
            CAST(SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN tr = 0 THEN c ELSE 0 END) AS BIGINT) AS kb
          FROM x GROUP BY 1, 2)
        SELECT look, na, ka, nb, kb,
          round(((CAST(ka AS DOUBLE) / CAST(na AS DOUBLE))
            - (CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)))
            / sqrt((CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 - (CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
              * ((1.0 / CAST(na AS DOUBLE)) + (1.0 / CAST(nb AS DOUBLE)))),
            4) AS z,
          abs(((CAST(ka AS DOUBLE) / CAST(na AS DOUBLE))
            - (CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)))
            / sqrt((CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 - (CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
              * ((1.0 / CAST(na AS DOUBLE)) + (1.0 / CAST(nb AS DOUBLE)))))
            > bd AS significant
        FROM a"""),
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
        val bounds = ev.agg(min(col("event_id")).as("mn"),
          max(col("event_id")).as("mx"))
        val looks = Seq((1, 3.471), (2, 2.454), (3, 2.004))
          .toDF("look", "bd")
        val e = ev.select(col("event_id"), (col("user_id") % 2).as("tr"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("c"))
        val x = e.crossJoin(broadcast(looks))
          .crossJoin(broadcast(bounds)) // 1-row id range
          .filter(col("event_id") < col("mn")
            + expr("((mx - mn + 1) * look) div 3") + 1)
        val a = x.groupBy(col("look"), col("bd"))
          .agg(sum(when(col("tr") === 1, 1L).otherwise(0L)).as("na"),
            sum(when(col("tr") === 1, col("c")).otherwise(0L)).as("ka"),
            sum(when(col("tr") === 0, 1L).otherwise(0L)).as("nb"),
            sum(when(col("tr") === 0, col("c")).otherwise(0L)).as("kb"))
        val pool = (col("ka") + col("kb")).cast("double") /
          (col("na") + col("nb")).cast("double")
        val z = ((col("ka").cast("double") / col("na").cast("double"))
          - (col("kb").cast("double") / col("nb").cast("double"))) /
          sqrt(pool * (lit(1.0) - pool)
            * (lit(1.0) / col("na").cast("double")
              + lit(1.0) / col("nb").cast("double")))
        a.select(col("look"), col("na"), col("ka"), col("nb"), col("kb"),
          round(z, 4).as("z"), (abs(z) > col("bd")).as("significant"))
      }),

    // ---- arc price elasticity (period-over-period) -------------------------
    // The log-free elasticity every pricing team actually computes: the
    // midpoint (arc) formula %Δqty / %Δprice between the two halves of
    // the window per product type — no transcendentals, so it
    // hash-matches where a log-log regression cannot. Quantities are
    // exact int64; average unit prices are decimal-grid revenue over
    // integer quantity; the elasticity is one pinned ratio-of-ratios.
    // 100 TB plan: one (type, period) fact aggregate (lineitem joins
    // orders co-partitioned on the order key, part on the part key),
    // then bounded-grain arithmetic.
    QuerySpec(
      "q280_elasticity",
      Some(s"""WITH f AS (SELECT p.p_type,
            CASE WHEN o.o_orderdate < TIMESTAMP '1998-07-01' THEN 0
              ELSE 1 END AS per,
            CAST(round(l.l_quantity, 0) AS BIGINT) AS qty,
            l.l_extendedprice AS rev
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN part p ON l.l_partkey = p.p_partkey),
        g AS (SELECT p_type, per, CAST(SUM(qty) AS BIGINT) AS q,
            ${Exact.sqlDsum("rev")} AS r
          FROM f GROUP BY 1, 2),
        w AS (SELECT p_type,
            CAST(SUM(CASE WHEN per = 0 THEN q ELSE 0 END) AS BIGINT) AS q0,
            CAST(SUM(CASE WHEN per = 1 THEN q ELSE 0 END) AS BIGINT) AS q1,
            ${Exact.sqlDsum("CASE WHEN per = 0 THEN r END")} AS r0,
            ${Exact.sqlDsum("CASE WHEN per = 1 THEN r END")} AS r1
          FROM g GROUP BY 1),
        m AS (SELECT p_type, q0, q1,
            r0 / CAST(q0 AS DOUBLE) AS p0, r1 / CAST(q1 AS DOUBLE) AS p1
          FROM w)
        SELECT p_type, q0, q1, round(p0, 4) AS price_pre,
          round(p1, 4) AS price_post,
          round((CAST(q1 - q0 AS DOUBLE)
              / (CAST(q1 + q0 AS DOUBLE) / 2.0))
            / ((p1 - p0) / ((p1 + p0) / 2.0)), 4) AS elasticity
        FROM m"""),
      (s, d) => {
        val f = t(s, d, "lineitem")
          .join(t(s, d, "orders").select(col("o_orderkey"),
            col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "part").select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_type"),
            when(col("o_orderdate") < lit("1998-07-01").cast("timestamp"),
              0L).otherwise(1L).as("per"),
            round(col("l_quantity"), 0).cast("long").as("qty"),
            col("l_extendedprice").as("rev"))
        val g = f.groupBy(col("p_type"), col("per"))
          .agg(sum(col("qty")).as("q"), Exact.dsum(col("rev")).as("r"))
        val w = g.groupBy(col("p_type"))
          .agg(sum(when(col("per") === 0, col("q")).otherwise(0L)).as("q0"),
            sum(when(col("per") === 1, col("q")).otherwise(0L)).as("q1"),
            Exact.dsum(when(col("per") === 0, col("r"))).as("r0"),
            Exact.dsum(when(col("per") === 1, col("r"))).as("r1"))
        val m = w.select(col("p_type"), col("q0"), col("q1"),
          (col("r0") / col("q0").cast("double")).as("p0"),
          (col("r1") / col("q1").cast("double")).as("p1"))
        m.select(col("p_type"), col("q0"), col("q1"),
          round(col("p0"), 4).as("price_pre"),
          round(col("p1"), 4).as("price_post"),
          round(((col("q1") - col("q0")).cast("double")
              / ((col("q1") + col("q0")).cast("double") / lit(2.0)))
            / ((col("p1") - col("p0"))
              / ((col("p1") + col("p0")) / lit(2.0))), 4).as("elasticity"))
      }),

    // ---- cohort LTV curve ---------------------------------------------------
    // Cumulative revenue per customer by cohort age — the matrix a
    // growth team reads next to q109's retention counts: cohort = first
    // order month, age = months since, cumulative exact-cents revenue
    // divided by the cohort's customer count. The cumulative window
    // partitions on the cohort and orders over the bounded age axis
    // (months — time-bounded, GuardSpec-clean). 100 TB plan: one
    // customer-keyed first-order aggregate, one (cohort, age) fact
    // aggregate, a broadcast cohort-size join, windows on bounded
    // frames.
    QuerySpec(
      "q281_cohort_ltv",
      Some("""WITH fo AS (SELECT o_custkey,
            MIN((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1)
              AS cohort
          FROM orders GROUP BY 1),
        cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cust
          FROM fo GROUP BY 1),
        r AS (SELECT fo.cohort,
            (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
              - fo.cohort AS age,
            CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
          GROUP BY 1, 2),
        c AS (SELECT cohort, age, cents,
            CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age)
              AS BIGINT) AS cum_cents
          FROM r)
        SELECT CAST(c.cohort AS BIGINT) AS cohort,
          CAST(c.age AS BIGINT) AS age, c.cents, c.cum_cents, cs.n_cust,
          floor(CAST(c.cum_cents AS DOUBLE) / 100.0
            / CAST(cs.n_cust AS DOUBLE) * 10000.0) / 10000.0
            AS ltv_per_cust
        FROM c JOIN cs ON c.cohort = cs.cohort"""),
      (s, d) => {
        val mIdx = (c: org.apache.spark.sql.Column) =>
          (year(c) - 1995) * 12 + month(c) - 1
        val o = t(s, d, "orders").cache() // first-order agg + revenue agg
        val fo = o.groupBy(col("o_custkey"))
          .agg(min(mIdx(col("o_orderdate"))).as("cohort"))
        val cs = fo.groupBy(col("cohort")).agg(count(lit(1)).as("n_cust"))
        val r = o.join(fo, Seq("o_custkey"))
          .groupBy(col("cohort"),
            (mIdx(col("o_orderdate")) - col("cohort")).as("age"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val c = r.withColumn("cum_cents",
          sum(col("cents")).over(Window.partitionBy(col("cohort"))
            .orderBy(col("age"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        c.join(broadcast(cs), Seq("cohort"))
          .select(col("cohort").cast("long").as("cohort"),
            col("age").cast("long").as("age"), col("cents"),
            col("cum_cents"), col("n_cust"),
            // floor-grid publish (the q270 rule): grid-total / integer
            // quotients land on decimal ties where the engines' round()
            // implementations disagree by 1 ulp
            (floor(col("cum_cents").cast("double") / lit(100.0)
              / col("n_cust").cast("double") * lit(10000.0))
              / lit(10000.0)).as("ltv_per_cust"))
      }),

    // ---- presence funnel with Wilson lower bounds --------------------------
    // q107's funnel reports point rates; decision-makers need the
    // uncertainty: each step's conversion carries its Wilson-score 95%
    // lower bound (the interval that behaves at small n and extreme p,
    // unlike the naive normal one). Step membership is one conditional
    // user-grain aggregate; the Wilson bound is a pinned sqrt tree on
    // exact counts. Steps: any view -> also clicked -> also purchased.
    QuerySpec(
      "q282_funnel_wilson", {
        def wilson(k: String, n: String): String =
          s"""((CAST($k AS DOUBLE) / CAST($n AS DOUBLE)
            + 1.9208 / CAST($n AS DOUBLE)
            - 1.96 * sqrt((CAST($k AS DOUBLE) / CAST($n AS DOUBLE)
              * (1.0 - CAST($k AS DOUBLE) / CAST($n AS DOUBLE))
              + 0.9604 / CAST($n AS DOUBLE)) / CAST($n AS DOUBLE)))
            / (1.0 + 3.8416 / CAST($n AS DOUBLE)))"""
        Some(s"""WITH u AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p1
          FROM events GROUP BY 1),
        st AS (SELECT CAST(SUM(s1) AS BIGINT) AS n1,
            CAST(SUM(s1 * c1) AS BIGINT) AS n2,
            CAST(SUM(s1 * c1 * p1) AS BIGINT) AS n3
          FROM u)
        SELECT 1 AS step, n1 AS n_users, round(CAST(n1 AS DOUBLE)
            / CAST(n1 AS DOUBLE), 6) AS rate,
          round(${wilson("n1", "n1")}, 6) AS wilson_lo FROM st
        UNION ALL SELECT 2, n2, round(CAST(n2 AS DOUBLE)
            / CAST(n1 AS DOUBLE), 6),
          round(${wilson("n2", "n1")}, 6) FROM st
        UNION ALL SELECT 3, n3, round(CAST(n3 AS DOUBLE)
            / CAST(n2 AS DOUBLE), 6),
          round(${wilson("n3", "n2")}, 6) FROM st""")
      },
      (s, d) => {
        def wilson(k: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val p = k.cast("double") / n.cast("double")
          (p + lit(1.9208) / n.cast("double")
            - lit(1.96) * sqrt((p * (lit(1.0) - p)
              + lit(0.9604) / n.cast("double")) / n.cast("double"))) /
            (lit(1.0) + lit(3.8416) / n.cast("double"))
        }
        val u = t(s, d, "events")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("s1"),
            max(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("c1"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("p1"))
        val st = u.agg(sum(col("s1")).as("n1"),
          sum(col("s1") * col("c1")).as("n2"),
          sum(col("s1") * col("c1") * col("p1")).as("n3")).cache()
        def row(step: Int, k: String, n: String): DataFrame =
          st.select(lit(step).as("step"), col(k).as("n_users"),
            round(col(k).cast("double") / col(n).cast("double"), 6)
              .as("rate"),
            round(wilson(col(k), col(n)), 6).as("wilson_lo"))
        row(1, "n1", "n1").unionByName(row(2, "n2", "n1"))
          .unionByName(row(3, "n3", "n2"))
      }),

    // ---- supervised lag-feature assembly -----------------------------------
    // The forecasting feature matrix: per day, the target plus its
    // lag-1 / lag-7 / lag-28 values and the trailing-7 moving average —
    // the columns a gradient-boosted forecaster trains on. Exact cents
    // throughout; the moving average divides an exact 7-day integer sum.
    // All windows read the bounded day grain.
    QuerySpec(
      "q296_lag_features",
      Some("""WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1)
        SELECT day, cents,
          lag(cents, 1) OVER w AS lag1,
          lag(cents, 7) OVER w AS lag7,
          lag(cents, 28) OVER w AS lag28,
          round(CAST(SUM(cents) OVER (ORDER BY day
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / 7.0 / 100.0, 4) AS ma7
        FROM day WINDOW w AS (ORDER BY day)"""),
      (s, d) => {
        val day = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val w = Window.orderBy(col("day"))
        val ma = Window.orderBy(col("day")).rowsBetween(-6, 0)
        day.select(col("day"), col("cents"),
          lag(col("cents"), 1).over(w).as("lag1"),
          lag(col("cents"), 7).over(w).as("lag7"),
          lag(col("cents"), 28).over(w).as("lag28"),
          round(sum(col("cents")).over(ma).cast("double") / lit(7.0)
            / lit(100.0), 4).as("ma7"))
      }),

    // ---- purged temporal split (leakage-safe holdout) ----------------------
    // The time-series answer to q146's hash split: train strictly
    // before the embargo, an EMBARGO month dropped entirely (so
    // label-horizon leakage cannot straddle the boundary), then
    // validation and test — the purged-split discipline from financial
    // ML. One row-local CASE assignment, one bounded rollup with
    // per-split ranges and exact-cents mass.
    QuerySpec(
      "q297_purged_split",
      Some("""WITH a AS (SELECT
            CASE WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 'train'
              WHEN o_orderdate < TIMESTAMP '2000-02-01' THEN 'embargo'
              WHEN o_orderdate < TIMESTAMP '2000-08-01' THEN 'valid'
              ELSE 'test' END AS split,
            CAST(o_orderdate AS DATE) AS day,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders)
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_orders,
          MIN(day) AS first_day, MAX(day) AS last_day,
          CAST(SUM(cents) AS BIGINT) AS cents
        FROM a GROUP BY 1"""),
      (s, d) => {
        val a = t(s, d, "orders").select(
          when(col("o_orderdate") < lit("2000-01-01").cast("timestamp"),
            "train")
            .when(col("o_orderdate") < lit("2000-02-01").cast("timestamp"),
              "embargo")
            .when(col("o_orderdate") < lit("2000-08-01").cast("timestamp"),
              "valid")
            .otherwise("test").as("split"),
          col("o_orderdate").cast("date").as("day"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        a.groupBy(col("split"))
          .agg(count(lit(1)).as("n_orders"), min(col("day")).as("first_day"),
            max(col("day")).as("last_day"),
            sum(col("cents")).cast("long").as("cents"))
      }),

    // ---- near-zero-variance feature filter ---------------------------------
    // caret's preprocessing classic: a feature is near-zero-variance
    // when its most common value dwarfs the second (freq ratio > 19 ~
    // 95/5) AND distinct values are rare (< 10% unique) — such columns
    // destabilize resampled models. Per column: value-grain counts,
    // the top-2 frequencies (TakeOrdered over the bounded value grain),
    // distinct and row counts, one pinned ratio pair.
    QuerySpec(
      "q298_nzv_filter", {
        def cand(nm: String, e: String): String =
          s"""SELECT '$nm' AS col_name, n, ndv, f1, f2,
            round(CAST(f1 AS DOUBLE) / CAST(f2 AS DOUBLE), 4)
              AS freq_ratio,
            round(CAST(ndv AS DOUBLE) / CAST(n AS DOUBLE), 6)
              AS pct_unique,
            (CAST(f1 AS DOUBLE) / CAST(f2 AS DOUBLE) > 19.0
              AND CAST(ndv AS DOUBLE) / CAST(n AS DOUBLE) < 0.1) AS nzv
          FROM (SELECT CAST(SUM(c) AS BIGINT) AS n,
              CAST(COUNT(*) AS BIGINT) AS ndv,
              CAST(MAX(c) AS BIGINT) AS f1,
              CAST(MAX(CASE WHEN rk = 2 THEN c END) AS BIGINT) AS f2
            FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, v) AS rk
              FROM (SELECT CAST($e AS VARCHAR) AS v,
                  CAST(COUNT(*) AS BIGINT) AS c
                FROM orders GROUP BY 1) z) y) x"""
        Some(Seq(
          cand("o_orderstatus", "o_orderstatus"),
          cand("o_orderpriority", "o_orderpriority"),
          cand("o_custkey", "o_custkey")).mkString(" UNION ALL "))
      },
      (s, d) => {
        val o = t(s, d, "orders").cache() // three column profiles
        def cand(nm: String, e: String): DataFrame = {
          val vc = o.select(col(e).cast("string").as("v"))
            .groupBy(col("v")).agg(count(lit(1)).as("c"))
          val rk = vc.withColumn("rk", row_number().over(
            Window.orderBy(col("c").desc, col("v"))))
          val x = rk.agg(sum(col("c")).as("n"), count(lit(1)).as("ndv"),
            max(col("c")).as("f1"),
            max(when(col("rk") === 2, col("c"))).as("f2"))
          val fr = col("f1").cast("double") / col("f2").cast("double")
          val pu = col("ndv").cast("double") / col("n").cast("double")
          x.select(lit(nm).as("col_name"), col("n"), col("ndv"),
            col("f1"), col("f2"), round(fr, 4).as("freq_ratio"),
            round(pu, 6).as("pct_unique"),
            (fr > 19.0 && pu < 0.1).as("nzv"))
        }
        cand("o_orderstatus", "o_orderstatus")
          .unionByName(cand("o_orderpriority", "o_orderpriority"))
          .unionByName(cand("o_custkey", "o_custkey"))
      }),

    // ---- Cohen's d / Hedges' g (standardized effect size) ------------------
    // The effect-size number a test report owes next to its p-value:
    // the purchase-vs-error mean gap in pooled-SD units, with Hedges'
    // small-sample correction (the rational 1 - 3/(4n-9) approximation
    // — no gamma function, so it hash-matches). Same one-scan
    // conditional sufficient statistics as q227.
    QuerySpec(
      "q299_cohens_d",
      Some(s"""WITH st AS (SELECT
            CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS na,
            CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
              AS BIGINT) AS nb,
            ${Exact.sqlDsum("CASE WHEN event_type = 'purchase' " +
        "THEN value END")} AS sa,
            ${Exact.sqlDsum("CASE WHEN event_type = 'error' " +
        "THEN value END")} AS sb,
            ${Exact.sqlDsum("CASE WHEN event_type = 'purchase' " +
        "THEN value * value END")} AS qa,
            ${Exact.sqlDsum("CASE WHEN event_type = 'error' " +
        "THEN value * value END")} AS qb
          FROM events WHERE event_type IN ('purchase', 'error')),
        m AS (SELECT na, nb,
            sa / CAST(na AS DOUBLE) AS ma, sb / CAST(nb AS DOUBLE) AS mb,
            (qa - sa * sa / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)
              AS va,
            (qb - sb * sb / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)
              AS vb
          FROM st),
        dd AS (SELECT na, nb,
            (ma - mb) / sqrt((CAST(na - 1 AS DOUBLE) * va
              + CAST(nb - 1 AS DOUBLE) * vb)
              / CAST(na + nb - 2 AS DOUBLE)) AS dv
          FROM m)
        SELECT na AS n_a, nb AS n_b, round(dv, 6) AS cohens_d,
          round(dv * (1.0 - 3.0 / CAST(4 * (na + nb) - 9 AS DOUBLE)), 6)
            AS hedges_g
        FROM dd"""),
      (s, d) => {
        val st = t(s, d, "events")
          .filter(col("event_type").isin("purchase", "error"))
          .agg(count(when(col("event_type") === "purchase", 1)).as("na"),
            count(when(col("event_type") === "error", 1)).as("nb"),
            Exact.dsum(when(col("event_type") === "purchase", col("value")))
              .as("sa"),
            Exact.dsum(when(col("event_type") === "error", col("value")))
              .as("sb"),
            Exact.dsum(when(col("event_type") === "purchase",
              col("value") * col("value"))).as("qa"),
            Exact.dsum(when(col("event_type") === "error",
              col("value") * col("value"))).as("qb"))
        val m = st.select(col("na"), col("nb"),
          (col("sa") / col("na").cast("double")).as("ma"),
          (col("sb") / col("nb").cast("double")).as("mb"),
          ((col("qa") - col("sa") * col("sa") / col("na").cast("double"))
            / (col("na") - 1).cast("double")).as("va"),
          ((col("qb") - col("sb") * col("sb") / col("nb").cast("double"))
            / (col("nb") - 1).cast("double")).as("vb"))
        val dd = m.select(col("na"), col("nb"),
          ((col("ma") - col("mb")) /
            sqrt(((col("na") - 1).cast("double") * col("va")
              + (col("nb") - 1).cast("double") * col("vb"))
              / (col("na") + col("nb") - 2).cast("double"))).as("dv"))
        dd.select(col("na").as("n_a"), col("nb").as("n_b"),
          round(col("dv"), 6).as("cohens_d"),
          round(col("dv") * (lit(1.0) - lit(3.0)
            / (lit(4) * (col("na") + col("nb")) - 9).cast("double")), 6)
            .as("hedges_g"))
      }),

    // ---- corpus overview dashboard -----------------------------------------
    // The one-row health summary an operator reads first: row counts
    // across the star schema, audience size, document and vocabulary
    // counts, and total exact-cents revenue — seven scalar aggregates,
    // each a 1-row broadcast, composed without a single shuffle wider
    // than its own partial agg.
    QuerySpec(
      "q300_overview_dashboard",
      Some(s"""SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_lineitems,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_customers,
          (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
            AS n_users,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
          (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM
            (SELECT unnest(${toksDuck("text")}) AS w
             FROM documents) z WHERE w <> '') AS vocab,
          (SELECT CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
            AS BIGINT) FROM orders) AS revenue_cents"""),
      (s, d) => {
        def one(df: DataFrame, nm: String): DataFrame =
          df.toDF(nm)
        val o = t(s, d, "orders")
        val parts = Seq(
          one(o.agg(count(lit(1))), "n_orders"),
          one(t(s, d, "lineitem").agg(count(lit(1))), "n_lineitems"),
          one(t(s, d, "customer").agg(count(lit(1))), "n_customers"),
          one(t(s, d, "events").agg(countDistinct(col("user_id"))),
            "n_users"),
          one(t(s, d, "documents").agg(count(lit(1))), "n_docs"),
          one(t(s, d, "documents")
            .select(explode(expr(toksSpark("text"))).as("w"))
            .filter(col("w") =!= "")
            .agg(countDistinct(col("w"))), "vocab"),
          one(o.agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")), "revenue_cents"))
        parts.reduce((a, b) => a.crossJoin(broadcast(b)))
      }),

    // ---- peak detection (local maxima with prominence) ---------------------
    // Signal-processing on the daily revenue series: days strictly
    // above every neighbor in a +-3 window, with prominence = height
    // over the taller shoulder — the spike detector behind anomaly
    // review queues (q117 flags z-outliers; this finds SHAPE maxima).
    // Two bounded-frame windows over the day grain; edges without a
    // full neighborhood are excluded deterministically.
    QuerySpec(
      "q301_peak_detection",
      Some("""WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        w AS (SELECT day, cents,
            MAX(cents) OVER (ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ml,
            MAX(cents) OVER (ORDER BY day
              ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS mr,
            CAST(COUNT(*) OVER (ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS nl,
            CAST(COUNT(*) OVER (ORDER BY day
              ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS nr
          FROM day)
        SELECT day, cents,
          cents - CASE WHEN ml > mr THEN ml ELSE mr END AS prominence
        FROM w
        WHERE nl = 3 AND nr = 3 AND cents > ml AND cents > mr"""),
      (s, d) => {
        val day = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val wl = Window.orderBy(col("day")).rowsBetween(-3, -1)
        val wr = Window.orderBy(col("day")).rowsBetween(1, 3)
        day.withColumn("ml", max(col("cents")).over(wl))
          .withColumn("mr", max(col("cents")).over(wr))
          .withColumn("nl", count(lit(1)).over(wl))
          .withColumn("nr", count(lit(1)).over(wr))
          .filter(col("nl") === 3 && col("nr") === 3
            && col("cents") > col("ml") && col("cents") > col("mr"))
          .select(col("day"), col("cents"),
            (col("cents") - when(col("ml") > col("mr"), col("ml"))
              .otherwise(col("mr"))).as("prominence"))
      }),

    // ---- shift-share decomposition (regional growth accounting) ------------
    // The regional-economics classic: each region's revenue change
    // between the two window halves decomposes into the NATIONAL effect
    // (base x overall growth), the MIX effect (the region's segment
    // composition growing faster/slower than average), and the residual
    // SHIFT (local competitiveness). Exact cents at the bounded
    // (region, segment) grain; growth rates and components are pinned
    // doubles; the three components sum to the actual delta by
    // construction. 100 TB plan: one fact aggregate, broadcast national
    // rates, group-grain arithmetic.
    QuerySpec(
      "q303_shift_share",
      Some(s"""WITH f AS (SELECT n.n_regionkey AS region,
            c.c_mktsegment AS seg,
            CASE WHEN o.o_orderdate < TIMESTAMP '1998-07-01' THEN 0
              ELSE 1 END AS per,
            CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey),
        g AS (SELECT region, seg,
            CAST(SUM(CASE WHEN per = 0 THEN cents ELSE 0 END) AS BIGINT)
              AS c0,
            CAST(SUM(CASE WHEN per = 1 THEN cents ELSE 0 END) AS BIGINT)
              AS c1
          FROM f GROUP BY 1, 2),
        sg AS (SELECT seg, CAST(SUM(c0) AS BIGINT) AS s0,
            CAST(SUM(c1) AS BIGINT) AS s1 FROM g GROUP BY 1),
        nat AS (SELECT CAST(SUM(s0) AS BIGINT) AS t0,
            CAST(SUM(s1) AS BIGINT) AS t1 FROM sg),
        r AS (SELECT g.region,
            CAST(SUM(g.c0) AS BIGINT) AS base,
            CAST(SUM(g.c1 - g.c0) AS BIGINT) AS delta,
            ${Exact.sqlDsum("CAST(g.c0 AS DOUBLE) "
        + "* (CAST(nat.t1 AS DOUBLE) / CAST(nat.t0 AS DOUBLE) - 1.0)")}
              AS national_eff,
            ${Exact.sqlDsum("CAST(g.c0 AS DOUBLE) "
        + "* (CAST(sg.s1 AS DOUBLE) / CAST(sg.s0 AS DOUBLE) "
        + "- CAST(nat.t1 AS DOUBLE) / CAST(nat.t0 AS DOUBLE))")}
              AS mix_eff
          FROM g JOIN sg ON g.seg = sg.seg, nat GROUP BY 1)
        SELECT region, base, delta,
          round(national_eff / 100.0, 2) AS national_eff,
          round(mix_eff / 100.0, 2) AS mix_eff,
          round((CAST(delta AS DOUBLE) - national_eff - mix_eff)
            / 100.0, 2) AS shift_eff
        FROM r"""),
      (s, d) => {
        val f = t(s, d, "orders")
          .join(t(s, d, "customer").select(col("c_custkey"),
            col("c_nationkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation").select(col("n_nationkey"),
            col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_regionkey").as("region"),
            col("c_mktsegment").as("seg"),
            when(col("o_orderdate") < lit("1998-07-01").cast("timestamp"),
              0L).otherwise(1L).as("per"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val g = f.groupBy(col("region"), col("seg"))
          .agg(sum(when(col("per") === 0, col("cents")).otherwise(0L))
            .as("c0"),
            sum(when(col("per") === 1, col("cents")).otherwise(0L))
              .as("c1"))
          .cache() // bounded (region, segment) grain
        val sg = g.groupBy(col("seg"))
          .agg(sum(col("c0")).as("s0"), sum(col("c1")).as("s1"))
        val nat = sg.agg(sum(col("s0")).as("t0"), sum(col("s1")).as("t1"))
        val natR = col("t1").cast("double") / col("t0").cast("double")
        val r = g.join(broadcast(sg), Seq("seg"))
          .crossJoin(broadcast(nat)) // 1-row national totals
          .groupBy(col("region"))
          .agg(sum(col("c0")).as("base"),
            sum(col("c1") - col("c0")).as("delta"),
            Exact.dsum(col("c0").cast("double") * (natR - lit(1.0)))
              .as("national_eff"),
            Exact.dsum(col("c0").cast("double")
              * (col("s1").cast("double") / col("s0").cast("double")
                - natR)).as("mix_eff"))
        r.select(col("region"), col("base").cast("long").as("base"),
          col("delta").cast("long").as("delta"),
          round(col("national_eff") / lit(100.0), 2).as("national_eff"),
          round(col("mix_eff") / lit(100.0), 2).as("mix_eff"),
          round((col("delta").cast("double") - col("national_eff")
            - col("mix_eff")) / lit(100.0), 2).as("shift_eff"))
      }),

    // ---- quota sampling (per-stratum deterministic fill) -------------------
    // The field-survey sampling mode: fill a fixed per-stratum quota by
    // a deterministic hash order (so re-running the pipeline re-selects
    // the SAME panel — membership is a pure function of the key, the
    // q103/q146 discipline applied to fixed quotas instead of rates).
    // One stratum-partitioned rank window; output is the panel roster.
    QuerySpec(
      "q304_quota_sample", {
        val h = Portable.h64Duck("'qs:' || CAST(c_custkey AS VARCHAR)")
        Some(s"""WITH r AS (SELECT c_mktsegment AS stratum, c_custkey,
              ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                ORDER BY ($h), c_custkey) AS rk
            FROM customer)
          SELECT stratum, c_custkey, CAST(rk AS BIGINT) AS rk
          FROM r WHERE rk <= 20""")
      },
      (s, d) => {
        val h = Portable.h64Spark("concat('qs:', cast(c_custkey as string))")
        t(s, d, "customer")
          .select(col("c_mktsegment").as("stratum"), col("c_custkey"),
            expr(h).as("hv"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("stratum"))
              .orderBy(col("hv"), col("c_custkey"))))
          .filter(col("rk") <= 20)
          .select(col("stratum"), col("c_custkey"),
            col("rk").cast("long").as("rk"))
      }),

    // ---- growth accounting (new / retained / resurrected / churned) --------
    // THE startup-metrics decomposition: each month's active customers
    // split into new (first month), retained (also active last month),
    // and resurrected (returning after a gap); churned counts last
    // month's actives who went quiet. Monthly active sets live on the
    // (customer, month) distinct grain; adjacency is a customer-keyed
    // self-join on month+1; firsts are one min-aggregate. Identity
    // check by construction: active = new + retained + resurrected.
    QuerySpec(
      "q306_growth_accounting",
      Some("""WITH cm AS (SELECT DISTINCT o_custkey AS c,
            (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m
          FROM orders),
        fm AS (SELECT c, MIN(m) AS fm FROM cm GROUP BY 1),
        fl AS (SELECT cm.c, cm.m, (cm.m = fm.fm) AS is_new,
            EXISTS (SELECT 1 FROM cm p WHERE p.c = cm.c
              AND p.m = cm.m - 1) AS was_prev
          FROM cm JOIN fm ON cm.c = fm.c),
        act AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS active,
            CAST(COUNT(CASE WHEN is_new THEN 1 END) AS BIGINT) AS new_c,
            CAST(COUNT(CASE WHEN NOT is_new AND was_prev THEN 1 END)
              AS BIGINT) AS retained,
            CAST(COUNT(CASE WHEN NOT is_new AND NOT was_prev THEN 1 END)
              AS BIGINT) AS resurrected
          FROM fl GROUP BY 1),
        ch AS (SELECT a.m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS churned
          FROM cm a LEFT JOIN cm b ON a.c = b.c AND b.m = a.m + 1
          WHERE b.c IS NULL GROUP BY 1)
        SELECT CAST(act.m AS BIGINT) AS month, act.active, act.new_c,
          act.retained, act.resurrected,
          CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned
        FROM act LEFT JOIN ch ON act.m = ch.m"""),
      (s, d) => {
        val cm = t(s, d, "orders")
          .select(col("o_custkey").as("c"),
            ((year(col("o_orderdate")) - 1995) * 12
              + month(col("o_orderdate")) - 1).as("m"))
          .distinct().cache() // (customer, month) grain, reused 4x
        val fm = cm.groupBy(col("c")).agg(min(col("m")).as("fm"))
        val prev = cm.select(col("c"), (col("m") + 1).as("m"),
          lit(1).as("wp"))
        val fl = cm.join(fm, Seq("c"))
          .join(prev, Seq("c", "m"), "left")
          .select(col("m"), (col("m") === col("fm")).as("is_new"),
            col("wp").isNotNull.as("was_prev"))
        val act = fl.groupBy(col("m"))
          .agg(count(lit(1)).as("active"),
            count(when(col("is_new"), 1)).as("new_c"),
            count(when(!col("is_new") && col("was_prev"), 1)).as("retained"),
            count(when(!col("is_new") && !col("was_prev"), 1))
              .as("resurrected"))
        val ch = cm.join(cm.select(col("c"), (col("m") - 1).as("m"),
            lit(1).as("nx")), Seq("c", "m"), "left")
          .filter(col("nx").isNull)
          .groupBy((col("m") + 1).as("m"))
          .agg(count(lit(1)).as("churned"))
        act.join(ch, Seq("m"), "left")
          .select(col("m").cast("long").as("month"), col("active"),
            col("new_c"), col("retained"), col("resurrected"),
            coalesce(col("churned"), lit(0L)).cast("long").as("churned"))
      }),

    // ---- distribution distances (TV / Bhattacharyya / Hellinger) -----------
    // Three log-free distances between the pre- and post-period order-
    // value distributions on a fixed $50k bucket grid — the drift
    // metrics that complement q140's PSI (which needs logs and was
    // rationalized) and q162's KS (which needs the full CDF). Total
    // variation is EXACT: 0.5*sum|n0*N1 - n1*N0|/(N0*N1) stays in
    // int64; Bhattacharyya folds per-bucket sqrt(p*q) on the decimal
    // grid; Hellinger is one more pinned sqrt. Bounded bucket grain.
    QuerySpec(
      "q308_dist_distance",
      Some(s"""WITH b AS (SELECT
            CAST(round(o_totalprice * 100, 0) AS BIGINT) // 5000000
              AS bucket,
            CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 0
              ELSE 1 END AS per
          FROM orders),
        g AS (SELECT bucket,
            CAST(COUNT(CASE WHEN per = 0 THEN 1 END) AS BIGINT) AS n0,
            CAST(COUNT(CASE WHEN per = 1 THEN 1 END) AS BIGINT) AS n1
          FROM b GROUP BY 1),
        tot AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0,
            CAST(SUM(n1) AS BIGINT) AS t1 FROM g),
        tv AS (SELECT CAST(SUM(abs(n0 * t1 - n1 * t0)) AS BIGINT) AS s
          FROM g, tot),
        bc AS (SELECT ${Exact.sqlDsum(
        "sqrt((CAST(n0 AS DOUBLE) / CAST(t0 AS DOUBLE)) "
          + "* (CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)))")} AS bc
          FROM g, tot)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_buckets,
          round(CAST(tv.s AS DOUBLE)
            / (2.0 * CAST(tot.t0 AS DOUBLE) * CAST(tot.t1 AS DOUBLE)), 6)
            AS total_variation,
          round(bc.bc, 6) AS bhattacharyya,
          round(sqrt(1.0 - bc.bc), 6) AS hellinger
        FROM tv, bc, tot"""),
      (s, d) => {
        val b = t(s, d, "orders")
          .select(expr("cast(round(o_totalprice * 100, 0) as bigint) " +
            "div 5000000").as("bucket"),
            when(col("o_orderdate") < lit("1998-07-01").cast("timestamp"),
              0L).otherwise(1L).as("per"))
        val g = b.groupBy(col("bucket"))
          .agg(count(when(col("per") === 0, 1)).as("n0"),
            count(when(col("per") === 1, 1)).as("n1"))
          .cache() // bounded bucket grain; feeds totals, tv, bc
        val tot = g.agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"))
        val wt = g.crossJoin(broadcast(tot)) // 1-row totals
        val tv = wt.agg(sum(abs(col("n0") * col("t1")
          - col("n1") * col("t0"))).as("s"))
        val bc = wt.agg(Exact.dsum(
          sqrt((col("n0").cast("double") / col("t0").cast("double"))
            * (col("n1").cast("double") / col("t1").cast("double"))))
          .as("bc"))
        val nb = g.agg(count(lit(1)).as("n_buckets"))
        nb.crossJoin(broadcast(tv)).crossJoin(broadcast(bc))
          .crossJoin(broadcast(tot))
          .select(col("n_buckets"),
            round(col("s").cast("double")
              / (lit(2.0) * col("t0").cast("double")
                * col("t1").cast("double")), 6).as("total_variation"),
            round(col("bc"), 6).as("bhattacharyya"),
            round(sqrt(lit(1.0) - col("bc")), 6).as("hellinger"))
      }),

    // ---- moving-average crossover signals ----------------------------------
    // The oldest trend-following signal: days where the 7-day moving
    // average of revenue crosses the 28-day ('golden' up, 'death'
    // down). Both averages divide exact integer window sums; the cross
    // test compares the SAME pinned differences on adjacent days (lag
    // over the bounded day grain), so signal days are bit-stable.
    QuerySpec(
      "q309_ma_crossover",
      Some("""WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
          FROM orders GROUP BY 1),
        ma AS (SELECT day,
            CAST(SUM(c) OVER w7 AS BIGINT) AS s7,
            CAST(COUNT(*) OVER w7 AS BIGINT) AS k7,
            CAST(SUM(c) OVER w28 AS BIGINT) AS s28,
            CAST(COUNT(*) OVER w28 AS BIGINT) AS k28
          FROM day WINDOW
            w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
            w28 AS (ORDER BY day ROWS BETWEEN 27 PRECEDING
              AND CURRENT ROW)),
        df AS (SELECT day,
            CAST(s7 AS DOUBLE) / 7.0 AS ma7,
            CAST(s28 AS DOUBLE) / 28.0 AS ma28,
            CAST(s7 AS DOUBLE) / 7.0 - CAST(s28 AS DOUBLE) / 28.0 AS diff
          FROM ma WHERE k7 = 7 AND k28 = 28),
        lg AS (SELECT day, ma7, ma28, diff,
            lag(diff) OVER (ORDER BY day) AS pdiff FROM df)
        SELECT day, floor(ma7 / 100.0 * 100.0) / 100.0 AS ma7,
          floor(ma28 / 100.0 * 100.0) / 100.0 AS ma28,
          CASE WHEN diff > 0 THEN 'golden' ELSE 'death' END AS crossover
        FROM lg
        WHERE pdiff IS NOT NULL
          AND ((diff > 0 AND pdiff <= 0) OR (diff < 0 AND pdiff >= 0))"""),
      (s, d) => {
        val day = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("c"))
        val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
        val w28 = Window.orderBy(col("day")).rowsBetween(-27, 0)
        val ma = day
          .withColumn("s7", sum(col("c")).over(w7))
          .withColumn("k7", count(lit(1)).over(w7))
          .withColumn("s28", sum(col("c")).over(w28))
          .withColumn("k28", count(lit(1)).over(w28))
        val df = ma.filter(col("k7") === 7 && col("k28") === 28)
          .select(col("day"),
            (col("s7").cast("double") / lit(7.0)).as("ma7"),
            (col("s28").cast("double") / lit(28.0)).as("ma28"),
            (col("s7").cast("double") / lit(7.0)
              - col("s28").cast("double") / lit(28.0)).as("diff"))
        val lg = df.withColumn("pdiff",
          lag(col("diff"), 1).over(Window.orderBy(col("day"))))
        lg.filter(col("pdiff").isNotNull
            && ((col("diff") > 0 && col("pdiff") <= 0)
              || (col("diff") < 0 && col("pdiff") >= 0)))
          .select(col("day"),
            (floor(col("ma7") / lit(100.0) * lit(100.0)) / lit(100.0))
              .as("ma7"),
            (floor(col("ma28") / lit(100.0) * lit(100.0)) / lit(100.0))
              .as("ma28"),
            when(col("diff") > 0, "golden").otherwise("death")
              .as("crossover"))
      }),

    // ---- VWAP (volume-weighted average price) ------------------------------
    // The execution-quality benchmark: per ship-day, total notional
    // over total quantity — both exact integer sums, one divide. The
    // simplest finance aggregate, included because every market-data
    // engine must have it.
    QuerySpec(
      "q310_vwap",
      Some("""WITH l AS (SELECT CAST(l_shipdate AS DATE) AS day,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
            CAST(round(l_quantity, 0) AS BIGINT) AS qty
          FROM lineitem),
        g AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS notional,
            CAST(SUM(qty) AS BIGINT) AS volume FROM l GROUP BY 1)
        SELECT day, notional, volume,
          floor(CAST(notional AS DOUBLE) / CAST(volume AS DOUBLE)
            / 100.0 * 10000.0) / 10000.0 AS vwap
        FROM g"""),
      (s, d) => {
        t(s, d, "lineitem")
          .select(col("l_shipdate").cast("date").as("day"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
            round(col("l_quantity"), 0).cast("long").as("qty"))
          .groupBy(col("day"))
          .agg(sum(col("cents")).cast("long").as("notional"),
            sum(col("qty")).cast("long").as("volume"))
          .select(col("day"), col("notional"), col("volume"),
            // floor-grid publish (q270 rule): integer-quotient prices
            // land on decimal ties where the engines' round() differs
            (floor(col("notional").cast("double")
              / col("volume").cast("double") / lit(100.0) * lit(10000.0))
              / lit(10000.0)).as("vwap"))
      }),

    // ---- Sharpe and Sortino ratios -----------------------------------------
    // Risk-adjusted "return" of the daily revenue series: simple
    // day-over-day returns (pinned divides on exact cents), mean over
    // total and DOWNSIDE deviation (Sortino penalizes only negative
    // days), annualized by the pinned sqrt(252). Return moments fold on
    // the decimal grid; every published number is one IEEE tree.
    QuerySpec(
      "q311_sharpe_sortino",
      Some(s"""WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
          FROM orders GROUP BY 1),
        r AS (SELECT CAST(c - pc AS DOUBLE) / CAST(pc AS DOUBLE) AS ret
          FROM (SELECT c, lag(c) OVER (ORDER BY day) AS pc FROM day) z
          WHERE pc IS NOT NULL),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            ${Exact.sqlDsum("ret")} AS sr,
            ${Exact.sqlDsum("ret * ret")} AS qr,
            ${Exact.sqlDsum(
        "CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END")} AS dq
          FROM r),
        m AS (SELECT n, sr / CAST(n AS DOUBLE) AS mu,
            sqrt((qr - sr * sr / CAST(n AS DOUBLE))
              / CAST(n - 1 AS DOUBLE)) AS sd,
            sqrt(dq / CAST(n AS DOUBLE)) AS dd
          FROM st)
        SELECT n AS n_days, round(mu, 6) AS mean_ret,
          round(sd, 6) AS sd_ret,
          round(mu / sd * sqrt(252.0), 4) AS sharpe,
          round(mu / dd * sqrt(252.0), 4) AS sortino
        FROM m"""),
      (s, d) => {
        val day = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("c"))
        val r = day
          .withColumn("pc", lag(col("c"), 1).over(Window.orderBy(col("day"))))
          .filter(col("pc").isNotNull)
          .select(((col("c") - col("pc")).cast("double")
            / col("pc").cast("double")).as("ret"))
        val st = r.agg(count(lit(1)).as("n"), Exact.dsum(col("ret")).as("sr"),
          Exact.dsum(col("ret") * col("ret")).as("qr"),
          Exact.dsum(when(col("ret") < 0, col("ret") * col("ret"))
            .otherwise(0.0)).as("dq"))
        val m = st.select(col("n"),
          (col("sr") / col("n").cast("double")).as("mu"),
          sqrt((col("qr") - col("sr") * col("sr") / col("n").cast("double"))
            / (col("n") - 1).cast("double")).as("sd"),
          sqrt(col("dq") / col("n").cast("double")).as("dd"))
        m.select(col("n").as("n_days"), round(col("mu"), 6).as("mean_ret"),
          round(col("sd"), 6).as("sd_ret"),
          round(col("mu") / col("sd") * sqrt(lit(252.0)), 4).as("sharpe"),
          round(col("mu") / col("dd") * sqrt(lit(252.0)), 4).as("sortino"))
      }),

    // ---- maximum drawdown ---------------------------------------------------
    // Peak-to-trough of the daily revenue level: the running maximum
    // over the bounded day grain gives each day's drawdown; the worst
    // one publishes with its trough day and the peak it fell from —
    // the risk number read next to q311's ratios. TakeOrdered(1) by
    // (drawdown DESC, day) pins the pick under ties.
    QuerySpec(
      "q312_max_drawdown",
      Some("""WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
          FROM orders GROUP BY 1),
        rm AS (SELECT day, c,
            CAST(MAX(c) OVER (ORDER BY day) AS BIGINT) AS peak FROM day),
        dd AS (SELECT day, c, peak,
            CAST(peak - c AS DOUBLE) / CAST(peak AS DOUBLE) AS ddown
          FROM rm)
        SELECT day AS trough_day, c AS trough_cents, peak AS peak_cents,
          round(ddown, 6) AS max_drawdown
        FROM dd ORDER BY ddown DESC, day LIMIT 1"""),
      (s, d) => {
        val day = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("c"))
        val rm = day.withColumn("peak", max(col("c")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        val dd = rm.select(col("day"), col("c"), col("peak"),
          ((col("peak") - col("c")).cast("double")
            / col("peak").cast("double")).as("ddown"))
        dd.orderBy(col("ddown").desc, col("day")).limit(1)
          .select(col("day").as("trough_day"), col("c").as("trough_cents"),
            col("peak").as("peak_cents"),
            round(col("ddown"), 6).as("max_drawdown"))
      }),

    // ---- Holt linear-trend exponential smoothing ---------------------------
    // The trend-aware sibling of q198's EWMA: level and trend update with
    // α = β = 1/2, so every smoothing step is halvings (EXACT in binary
    // floating point) plus single-rounded adds/subs over exact month
    // cents — the recursion is bit-identical in both engines as long as
    // the op tree matches, which it does: the Spark side folds the
    // SORTED month array with an `aggregate` HOF, the oracle runs the
    // same tree as a RECURSIVE CTE (Spark has no recursive CTE; the
    // bounded-month fold is the Spark-native shape). Init l0 = x0,
    // b0 = 0 (documented convention). 100 TB plan: ONE fact pass to the
    // bounded month grain; the fold is group-grain arithmetic on <=
    // ~100 elements — never a corpus-sized window.
    QuerySpec(
      "q323_holt_trend",
      Some("""WITH RECURSIVE m AS (SELECT (year(o_orderdate) - 1992) * 12
              + month(o_orderdate) - 1 AS i,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
          FROM orders GROUP BY 1),
        mi AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY i) - 1 AS INT)
            AS t, c FROM m),
        h AS (SELECT t, c, CAST(c AS DOUBLE) AS level,
            CAST(0 AS DOUBLE) AS trend
          FROM mi WHERE t = 0
          UNION ALL
          SELECT mi.t, mi.c,
            CAST(mi.c AS DOUBLE) / 2 + (h.level + h.trend) / 2,
            ((CAST(mi.c AS DOUBLE) / 2 + (h.level + h.trend) / 2)
              - h.level) / 2 + h.trend / 2
          FROM h JOIN mi ON mi.t = h.t + 1)
        SELECT t, c, level, trend FROM h"""),
      (s, d) => {
        val m = t(s, d, "orders")
          .groupBy((expr("(year(o_orderdate) - 1992) * 12") +
            month(col("o_orderdate")) - 1).as("i"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("c"))
        // bounded month grain: the unpartitioned rank window reads an
        // Aggregate child (GuardSpec-compliant)
        val mi = m
          .withColumn("t", (row_number().over(
            Window.orderBy(col("i"))) - 1).cast("int"))
          .select(struct(col("t"), col("c")).as("e"))
          .agg(sort_array(collect_list(col("e"))).as("ms"))
        val step =
          """named_struct(
            'out', concat(st.out, array(named_struct(
              't', e.t, 'c', e.c,
              'level', cast(e.c as double) / 2 + (st.l + st.b) / 2,
              'trend', ((cast(e.c as double) / 2 + (st.l + st.b) / 2)
                - st.l) / 2 + st.b / 2))),
            'l', cast(e.c as double) / 2 + (st.l + st.b) / 2,
            'b', ((cast(e.c as double) / 2 + (st.l + st.b) / 2)
              - st.l) / 2 + st.b / 2)"""
        val fold = s"""aggregate(slice(ms, 2, size(ms) - 1),
            named_struct(
              'out', array(named_struct('t', ms[0].t, 'c', ms[0].c,
                'level', cast(ms[0].c as double),
                'trend', cast(0 as double))),
              'l', cast(ms[0].c as double), 'b', cast(0 as double)),
            (st, e) -> $step,
            st -> st.out)"""
        mi.select(explode(expr(fold)).as("r"))
          .select(col("r.t").as("t"), col("r.c").as("c"),
            col("r.level").as("level"), col("r.trend").as("trend"))
      }),

    // ---- rendezvous (HRW) sharding balance audit ---------------------------
    // Highest-random-weight placement (Thaler & Ravishankar 1998) — the
    // consistent-sharding rule a 100 TB serving/storage layer uses so
    // that adding a shard moves only 1/N of the keys: every doc scores
    // all 16 shards with a salted portable hash and lands on the argmax.
    // The audit reports per-shard load (docs, char mass, parts-per-
    // million of corpus) — the skew a placement owner watches. Argmax is
    // array_position(hs, array_max(hs)) over a FIXED 16-expression hash
    // array — row-local, tie-broken identically (first max) in both
    // engines, though the 60-bit hashes make ties vanishingly unlikely.
    // 100 TB plan: placement is pure row-local integer work; the audit
    // is one 16-group partial agg + a 1-row total broadcast.
    QuerySpec(
      "q342_rendezvous_shards", {
        val hsDuck = (0 until 16).map(sh => Portable.h64Duck(
          s"'rv:' || CAST(doc_id AS VARCHAR) || ':$sh'")).mkString(", ")
        Some(s"""WITH a AS (SELECT doc_id, n_chars,
            [$hsDuck] AS hs FROM documents),
        p AS (SELECT doc_id, n_chars,
            CAST(list_position(hs, list_max(hs)) - 1 AS INT) AS shard
          FROM a),
        st AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
          FROM p GROUP BY 1),
        tt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM st)
        SELECT shard, n_docs, n_chars_sum,
          CAST(n_docs * 1000000 // total AS BIGINT) AS load_ppm
        FROM st, tt""")
      },
      (s, d) => {
        val hs = array((0 until 16).map(sh => expr(Portable.h64Spark(
          s"concat('rv:', cast(doc_id as string), ':$sh')"))): _*)
        val p = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"), hs.as("hs"))
          .select(col("doc_id"), col("n_chars"),
            (expr("array_position(hs, array_max(hs))") - 1)
              .cast("int").as("shard"))
        val st = p.groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars_sum"))
          .cache() // 16 rows; feeds the total and the output
        val tt = st.agg(sum(col("n_docs")).as("total"))
        st.crossJoin(broadcast(tt)) // 1-row corpus total
          .select(col("shard"), col("n_docs"), col("n_chars_sum"),
            expr("n_docs * 1000000 div total").as("load_ppm"))
      }),

    // ---- rendezvous resharding disruption audit (16 -> 17 shards) ----------
    // The property q342's placement is CHOSEN for, measured: growing the
    // ring from 16 to 17 shards re-homes exactly the keys whose NEW
    // shard's salted hash beats all 16 old ones — in expectation 1/17 of
    // the corpus (~58.8k ppm), against a mod-N scheme's 16/17. HRW makes
    // this structural: old shards never trade keys with each other
    // (argmax over a superset can only move to the new element), so the
    // audit publishes n_moved_to_new next to n_moved (structurally equal
    // under HRW; the oracle hash-checks the equality) and per-old-
    // shard moved fractions — the rebalance-cost forecast a storage
    // owner signs off before a reshard. Same row-local hash-argmax shape
    // as q342 (one extra hash per key), one 16-group partial agg.
    QuerySpec(
      "q345_reshard_disruption", {
        val hsDuck = (0 until 17).map(sh => Portable.h64Duck(
          s"'rv:' || CAST(doc_id AS VARCHAR) || ':$sh'")).mkString(", ")
        Some(s"""WITH a AS (SELECT doc_id, [$hsDuck] AS hs FROM documents),
        p AS (SELECT doc_id,
            CAST(list_position(hs[1:16], list_max(hs[1:16])) - 1 AS INT)
              AS shard16,
            CAST(list_position(hs, list_max(hs)) - 1 AS INT) AS shard17
          FROM a),
        st AS (SELECT shard16, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(CASE WHEN shard17 <> shard16 THEN 1 END) AS BIGINT)
              AS n_moved,
            CAST(COUNT(CASE WHEN shard17 <> shard16 AND shard17 = 16
              THEN 1 END) AS BIGINT) AS n_moved_to_new
          FROM p GROUP BY 1)
        SELECT shard16, n_docs, n_moved, n_moved_to_new,
          CAST(n_moved * 1000000 // n_docs AS BIGINT) AS moved_ppm
        FROM st""")
      },
      (s, d) => {
        val hs = array((0 until 17).map(sh => expr(Portable.h64Spark(
          s"concat('rv:', cast(doc_id as string), ':$sh')"))): _*)
        val p = t(s, d, "documents")
          .select(col("doc_id"), hs.as("hs"))
          .select(col("doc_id"),
            (expr("array_position(slice(hs, 1, 16), " +
              "array_max(slice(hs, 1, 16)))") - 1).cast("int").as("shard16"),
            (expr("array_position(hs, array_max(hs))") - 1)
              .cast("int").as("shard17"))
        p.groupBy(col("shard16"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("shard17") =!= col("shard16"), 1)).as("n_moved"),
            count(when(col("shard17") =!= col("shard16")
              && col("shard17") === 16, 1)).as("n_moved_to_new"))
          .select(col("shard16"), col("n_docs"), col("n_moved"),
            col("n_moved_to_new"),
            expr("n_moved * 1000000 div n_docs").as("moved_ppm"))
      }),

    // ---- shuffle-skew / salting planner ------------------------------------
    // The pre-flight audit a 100 TB shuffle join runs BEFORE picking a
    // strategy: per join key, the fact-side row count, its share of the
    // total in ppm, and the SALT FACTOR that would level it against the
    // uniform per-partition target (ceil(n_k * P / total) for the
    // P = 32 deployment layout — exact integer ceiling division, no
    // floats). Top-20 hottest keys by (rows DESC, key) is the bounded
    // deliverable an AQE-skew or manual-salting decision reads. Shape:
    // ONE partial-agg shuffle to the key grain, a 1-row total broadcast,
    // TakeOrdered(20) — never a corpus-sized sort.
    QuerySpec(
      "q357_skew_salt_planner",
      Some("""WITH kc AS (SELECT l_suppkey AS supp_key,
            CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM lineitem GROUP BY 1),
        tt AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM kc)
        SELECT supp_key, n_rows,
          CAST(n_rows * 1000000 // total AS BIGINT) AS load_ppm,
          CAST((n_rows * 32 + total - 1) // total AS BIGINT) AS salt
        FROM kc, tt
        ORDER BY n_rows DESC, supp_key LIMIT 20"""),
      (s, d) => {
        val kc = t(s, d, "lineitem")
          .groupBy(col("l_suppkey").as("supp_key"))
          .agg(count(lit(1)).as("n_rows"))
        val tt = kc.agg(sum(col("n_rows")).cast("long").as("total"))
        kc.crossJoin(broadcast(tt)) // 1-row total
          .select(col("supp_key"), col("n_rows"),
            expr("n_rows * 1000000 div total").as("load_ppm"),
            expr("(n_rows * 32 + total - 1) div total").as("salt"))
          .orderBy(col("n_rows").desc, col("supp_key"))
          .limit(20)
      }),

    // ---- join-cardinality estimation audit (optimizer statistics) ----------
    // The independence-assumption estimate every cost-based optimizer
    // runs on — |A| * |B| / max(NDV_A, NDV_B) — checked against the
    // EXACT join cardinality (sum over keys of cnt_A * cnt_B) for three
    // join shapes: the M:N self-join on partkey (where the assumption
    // is most dangerous), the N:1 fact-to-orders join, and the
    // orders-to-customer join. Error in ppm of the exact count is the
    // deliverable — the audit that tells you where AQE's runtime
    // statistics matter most. Shape: each join needs only its key-grain
    // count tables (partial-agg shuffles); the exact count is a
    // key-keyed join of two bounded count tables; output is 3 rows.
    QuerySpec(
      "q362_join_card_estimate",
      Some("""WITH lp AS (SELECT l_partkey AS k,
            CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        lo AS (SELECT l_orderkey AS k,
            CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        ok AS (SELECT o_orderkey AS k,
            CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        oc AS (SELECT o_custkey AS k,
            CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        ck AS (SELECT c_custkey AS k,
            CAST(COUNT(*) AS BIGINT) AS c FROM customer GROUP BY 1),
        j AS (
          SELECT 'lineitem_self_partkey' AS join_name,
            (SELECT SUM(c) FROM lp) AS rows_a,
            (SELECT SUM(c) FROM lp) AS rows_b,
            (SELECT COUNT(*) FROM lp) AS ndv_a,
            (SELECT COUNT(*) FROM lp) AS ndv_b,
            (SELECT SUM(c * c) FROM lp) AS exact_rows
          UNION ALL
          SELECT 'lineitem_orders', (SELECT SUM(c) FROM lo),
            (SELECT SUM(c) FROM ok), (SELECT COUNT(*) FROM lo),
            (SELECT COUNT(*) FROM ok),
            (SELECT SUM(a.c * b.c) FROM lo a JOIN ok b ON b.k = a.k)
          UNION ALL
          SELECT 'orders_customer', (SELECT SUM(c) FROM oc),
            (SELECT SUM(c) FROM ck), (SELECT COUNT(*) FROM oc),
            (SELECT COUNT(*) FROM ck),
            (SELECT SUM(a.c * b.c) FROM oc a JOIN ck b ON b.k = a.k))
        SELECT join_name, CAST(rows_a AS BIGINT) AS rows_a,
          CAST(rows_b AS BIGINT) AS rows_b,
          CAST(ndv_a AS BIGINT) AS ndv_a, CAST(ndv_b AS BIGINT) AS ndv_b,
          CAST(exact_rows AS BIGINT) AS exact_rows,
          CAST(rows_a * rows_b // GREATEST(ndv_a, ndv_b) AS BIGINT)
            AS est_rows,
          CAST(ABS(exact_rows - rows_a * rows_b
              // GREATEST(ndv_a, ndv_b)) * 1000000 // exact_rows
            AS BIGINT) AS err_ppm
        FROM j"""),
      (s, d) => {
        def counts(df: DataFrame, key: String): DataFrame =
          df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        val li = t(s, d, "lineitem")
        val lp = counts(li, "l_partkey")
        val lo = counts(li, "l_orderkey")
        val ok = counts(t(s, d, "orders"), "o_orderkey")
        val oc = counts(t(s, d, "orders"), "o_custkey")
        val ck = counts(t(s, d, "customer"), "c_custkey")
        def selfStats(name: String, a: DataFrame): DataFrame =
          a.agg(sum(col("c")).as("rows_a"), sum(col("c")).as("rows_b"),
            count(lit(1)).as("ndv_a"), count(lit(1)).as("ndv_b"),
            sum(col("c") * col("c")).as("exact_rows"))
            .select(lit(name).as("join_name"), col("*"))
        def pairStats(name: String, a: DataFrame, b: DataFrame)
            : DataFrame = {
          val sa = a.agg(sum(col("c")).as("rows_a"),
            count(lit(1)).as("ndv_a"))
          val sb = b.agg(sum(col("c")).as("rows_b"),
            count(lit(1)).as("ndv_b"))
          val ex = a.select(col("k"), col("c").as("ca"))
            .join(b.select(col("k"), col("c").as("cb")), "k")
            .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
              .as("exact_rows"))
          sa.crossJoin(sb).crossJoin(ex) // all 1-row aggregates
            .select(lit(name).as("join_name"), col("rows_a"),
              col("rows_b"), col("ndv_a"), col("ndv_b"),
              col("exact_rows"))
        }
        selfStats("lineitem_self_partkey", lp)
          .unionByName(pairStats("lineitem_orders", lo, ok))
          .unionByName(pairStats("orders_customer", oc, ck))
          .select(col("join_name"), col("rows_a"), col("rows_b"),
            col("ndv_a"), col("ndv_b"), col("exact_rows"),
            expr("rows_a * rows_b div greatest(ndv_a, ndv_b)")
              .as("est_rows"),
            expr("abs(exact_rows - rows_a * rows_b div " +
              "greatest(ndv_a, ndv_b)) * 1000000 div exact_rows")
              .as("err_ppm"))
      }),

    // ---- sampled + end-biased cardinality estimators (q362's sequel) -------
    // q362 shows where the independence estimate fails (the M:N
    // self-join); this audits the two estimators an optimizer upgrades
    // to: (a) a 1-in-64 HASH-GATED key sample (q113's deterministic
    // integer gate — no RNG) with the sampled sum-of-squares scaled
    // back up, and (b) Estan-Naughton end-biased sampling — EXACT
    // accounting for heavy keys (count >= 40), the sampled scale-up
    // only for the light tail, which is where sampling is actually
    // safe. All three (independence, sampled, end-biased) against the
    // exact self-join cardinality, error in ppm. Shape: everything
    // derives from ONE partkey-grain count table; the estimator rows
    // are 1-row aggregates unioned — no second corpus pass.
    QuerySpec(
      "q363_sampled_card_estimate", {
        val g = Portable.h64Duck("'cs:' || CAST(k AS VARCHAR)")
        Some(s"""WITH lp AS (SELECT l_partkey AS k,
              CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
          base AS (SELECT CAST(SUM(c) AS BIGINT) AS rows_a,
              CAST(COUNT(*) AS BIGINT) AS ndv,
              CAST(SUM(c * c) AS BIGINT) AS exact_rows FROM lp),
          est AS (
            SELECT 'independence' AS estimator,
              rows_a * rows_a // ndv AS est_rows FROM base
            UNION ALL
            SELECT 'hash_sampled_1_in_64',
              64 * COALESCE(CAST(SUM(CASE WHEN ($g) % 64 = 0
                THEN c * c END) AS BIGINT), 0)
            FROM lp
            UNION ALL
            SELECT 'end_biased_heavy40',
              COALESCE(CAST(SUM(CASE WHEN c >= 40 THEN c * c END)
                AS BIGINT), 0)
              + 64 * COALESCE(CAST(SUM(CASE WHEN c < 40
                  AND ($g) % 64 = 0 THEN c * c END) AS BIGINT), 0)
            FROM lp)
          SELECT estimator, CAST(est.est_rows AS BIGINT) AS est_rows,
            base.exact_rows,
            CAST(ABS(base.exact_rows - est.est_rows) * 1000000
              // base.exact_rows AS BIGINT) AS err_ppm
          FROM est, base""")
      },
      (s, d) => {
        val g = Portable.h64Spark("concat('cs:', cast(k as string))")
        val lp = t(s, d, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("c"))
          .cache() // feeds all three estimators + the exact base
        val base = lp.agg(sum(col("c")).as("rows_a"),
          count(lit(1)).as("ndv"),
          sum(col("c") * col("c")).as("exact_rows"))
        val indep = base.select(lit("independence").as("estimator"),
          expr("rows_a * rows_a div ndv").as("est_rows"))
        val sampled = lp.agg(
          (lit(64L) * coalesce(sum(when(expr(s"($g) % 64") === 0,
            col("c") * col("c"))), lit(0L))).as("est_rows"))
          .select(lit("hash_sampled_1_in_64").as("estimator"),
            col("est_rows"))
        val endBiased = lp.agg(
          (coalesce(sum(when(col("c") >= 40, col("c") * col("c"))),
            lit(0L))
            + lit(64L) * coalesce(sum(when(col("c") < 40
              && expr(s"($g) % 64") === 0, col("c") * col("c"))),
              lit(0L))).as("est_rows"))
          .select(lit("end_biased_heavy40").as("estimator"),
            col("est_rows"))
        indep.unionByName(sampled).unionByName(endBiased)
          .crossJoin(broadcast(base.select(col("exact_rows")))) // 1 row
          .select(col("estimator"), col("est_rows"), col("exact_rows"),
            expr("abs(exact_rows - est_rows) * 1000000 div exact_rows")
              .as("err_ppm"))
      }),

    // ---- correlated-columns NDV audit (multi-column statistics) ------------
    // The statistic that tells an optimizer its per-column NDVs lie:
    // for a column pair, NDV(a,b) << NDV(a) * NDV(b) means the columns
    // are correlated and independence-multiplied selectivities will
    // overestimate filtering. Per pair: the three NDVs and the
    // correlation ratio NDV(a,b) / (NDV(a) * NDV(b)) in ppm (1e6 =
    // fully independent) — the signal behind CREATE STATISTICS /
    // extended stats. Shape: each pair is one count-distinct aggregate
    // over its scan (partial agg + distinct exchange), outputs union
    // to 3 rows; nothing wider than the distinct key ever shuffles.
    QuerySpec(
      "q367_ndv_correlation",
      Some("""WITH p1 AS (SELECT 'l_returnflag_x_linestatus' AS col_pair,
            CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS ndv_a,
            CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS ndv_b,
            CAST(COUNT(DISTINCT l_returnflag || '|' || l_linestatus)
              AS BIGINT) AS ndv_ab
          FROM lineitem),
        p2 AS (SELECT 'shipyear_x_returnflag',
            CAST(COUNT(DISTINCT CAST(year(l_shipdate) AS VARCHAR))
              AS BIGINT),
            CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
            CAST(COUNT(DISTINCT CAST(year(l_shipdate) AS VARCHAR)
              || '|' || l_returnflag) AS BIGINT)
          FROM lineitem),
        p3 AS (SELECT 'o_orderpriority_x_orderstatus',
            CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
            CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
            CAST(COUNT(DISTINCT o_orderpriority || '|' || o_orderstatus)
              AS BIGINT)
          FROM orders),
        u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
          UNION ALL SELECT * FROM p3)
        SELECT col_pair, ndv_a, ndv_b, ndv_ab,
          CAST(ndv_ab * 1000000 // (ndv_a * ndv_b) AS BIGINT)
            AS correlation_ppm
        FROM u"""),
      (s, d) => {
        def pair(name: String, df: DataFrame, a: String, b: String)
            : DataFrame =
          df.agg(countDistinct(col(a)).as("ndv_a"),
            countDistinct(col(b)).as("ndv_b"),
            countDistinct(concat(col(a), lit("|"), col(b))).as("ndv_ab"))
            .select(lit(name).as("col_pair"), col("ndv_a"), col("ndv_b"),
              col("ndv_ab"))
        val li = t(s, d, "lineitem")
          .withColumn("shipyear", expr("cast(year(l_shipdate) as string)"))
        pair("l_returnflag_x_linestatus", li, "l_returnflag",
            "l_linestatus")
          .unionByName(pair("shipyear_x_returnflag", li,
            "shipyear", "l_returnflag"))
          .unionByName(pair("o_orderpriority_x_orderstatus",
            t(s, d, "orders"), "o_orderpriority", "o_orderstatus"))
          .select(col("col_pair"), col("ndv_a"), col("ndv_b"),
            col("ndv_ab"),
            expr("ndv_ab * 1000000 div (ndv_a * ndv_b)")
              .as("correlation_ppm"))
      })
  )
}
