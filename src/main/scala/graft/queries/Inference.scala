package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.operators.BlockScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-inference operators: the hypothesis tests and model-selection
  * primitives an analytics engine runs AFTER the descriptive statistics
  * (q136 moments, q147 chi-square, q152 correlation) — rank tests, unequal-
  * variance mean tests, effect sizes, agreement coefficients, robust trend
  * fits, and autocorrelation diagnostics.
  *
  * Determinism discipline (the q142/q162 rules): sufficient statistics are
  * exact int64 (or decimal-grid [[Exact]]) aggregates; every published
  * float is ONE pinned sequence of IEEE ops over those exact inputs,
  * written with identical association on the Spark and DuckDB sides, so
  * the hash compare is bitwise. No transcendentals except sqrt (correctly
  * rounded per IEEE 754 in both engines).
  *
  * Scale discipline: every value-grain cumulative uses the block prefix-sum
  * decomposition (operators/Quantiles, q162); every unpartitioned window
  * here reads a bounded group-grain child (quantity grid, month grid, pair
  * grid of a bounded series); joins against 1-row totals broadcast.
  */
object Inference {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Block width for value-grain prefix sums (matches operators/Quantiles
    * and q162: cents div 2^16 — only the block-totals table crosses a
    * global window).
    */
  private val BlockBits = 16

  /** Epoch-ms midpoint (2024-01-16T00:00Z) splitting the events window
    * into the two capture occasions — integer unix-ms compare,
    * timezone-free in both engines.
    */
  private val CrSplitMs = 1705363200000L

  val all: Seq[QuerySpec] = Seq(

    // ---- Mann-Whitney U (Wilcoxon rank-sum) --------------------------------
    // Nonparametric two-sample location test: does `value` differ between
    // 'click' and 'view' events without assuming normality? U_a counts
    // cross-group pairs (a > b) with half-credit ties — computed WITHOUT
    // materializing ranks: per distinct cents value, na * (2*cumLessB + nb)
    // sums to exactly 2*U_a in int64. The tie-corrected normal
    // approximation's z is one pinned expression over five int64 stats.
    // 100 TB plan: one value-grain partial-agg shuffle; the cumulative
    // "B-count before v" is an operators.BlockScan running sum keyed on v div
    // 2^16 — no data-sized single-task window. Headroom: 2*U_a <= 2*na*nb
    // caps int64 through ~2.1e9 rows per arm; past that, switch the u2/tc
    // sums to DECIMAL(38,0) (same plan shape).
    QuerySpec(
      "q226_mann_whitney",
      Some("""WITH t AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
            CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
          FROM events WHERE event_type IN ('click', 'view')),
        c AS (SELECT v, CAST(SUM(a) AS BIGINT) AS na,
            CAST(SUM(1 - a) AS BIGINT) AS nb FROM t GROUP BY 1),
        cum AS (SELECT v, na, nb,
            CAST(SUM(nb) OVER (ORDER BY v) - nb AS BIGINT) AS cb FROM c),
        st AS (SELECT CAST(SUM(na) AS BIGINT) AS na_t,
            CAST(SUM(nb) AS BIGINT) AS nb_t,
            CAST(SUM(na * (2 * cb + nb)) AS BIGINT) AS u2,
            CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb))
              AS BIGINT) AS tc
          FROM cum)
        SELECT na_t AS n_a, nb_t AS n_b,
          CAST(u2 AS DOUBLE) / 2.0 AS u_a,
          round(CAST(u2 - na_t * nb_t AS DOUBLE) /
            (2.0 * sqrt(CAST(na_t AS DOUBLE) * CAST(nb_t AS DOUBLE) *
              (CAST(na_t + nb_t + 1 AS DOUBLE) - CAST(tc AS DOUBLE) /
                CAST((na_t + nb_t) * (na_t + nb_t - 1) AS DOUBLE))
              / 12.0)), 4) AS z
        FROM st"""),
      (s, d) => {
        val t0 = t(s, d, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(round(col("value") * 100, 0).cast("long").as("v"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("a"))
        val c = t0.groupBy(col("v"))
          .agg(sum(col("a")).as("na"), sum(lit(1L) - col("a")).as("nb"))
          .cache() // feeds BlockScan's window AND its block totals
        val tg = col("na") + col("nb")
        val st = BlockScan.runningSums(c, expr(s"v div ${1L << BlockBits}"),
            Seq(col("v")), Seq("cb" -> col("nb")))
          .withColumn("cb", col("cb") - col("nb"))
          .agg(sum(col("na")).as("na_t"), sum(col("nb")).as("nb_t"),
            sum(col("na") * (lit(2L) * col("cb") + col("nb"))).as("u2"),
            sum(tg * tg * tg - tg).as("tc"))
        st.select(col("na_t").as("n_a"), col("nb_t").as("n_b"),
          (col("u2").cast("double") / lit(2.0)).as("u_a"),
          round((col("u2") - col("na_t") * col("nb_t")).cast("double") /
            (lit(2.0) * sqrt(col("na_t").cast("double")
              * col("nb_t").cast("double") *
              ((col("na_t") + col("nb_t") + 1).cast("double")
                - col("tc").cast("double") /
                  ((col("na_t") + col("nb_t"))
                    * (col("na_t") + col("nb_t") - 1)).cast("double"))
              / lit(12.0))), 4).as("z"))
      }),

    // ---- Welch's unequal-variance t-test -----------------------------------
    // Two-sample mean test that does NOT pool variances (the default any
    // modern A/B analysis should run instead of Student's t). Sufficient
    // stats per arm are the decimal-grid Exact sums (n, sum, sum-of-
    // squares) from ONE conditional-aggregate scan — no join, no second
    // pass. t and the Welch-Satterthwaite df are pinned IEEE expressions
    // over those exact doubles. 100 TB plan: a single partial-agg
    // reduction to one row; nothing else.
    QuerySpec(
      "q227_welch_ttest",
      Some(s"""WITH st AS (SELECT
            CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS na,
            CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
              AS BIGINT) AS nb,
            ${Exact.sqlDsum("CASE WHEN event_type = 'purchase' THEN value END")} AS sa,
            ${Exact.sqlDsum("CASE WHEN event_type = 'error' THEN value END")} AS sb,
            ${Exact.sqlDsum(
        "CASE WHEN event_type = 'purchase' THEN value * value END")} AS qa,
            ${Exact.sqlDsum(
        "CASE WHEN event_type = 'error' THEN value * value END")} AS qb
          FROM events WHERE event_type IN ('purchase', 'error')),
        m AS (SELECT na, nb,
            sa / CAST(na AS DOUBLE) AS ma, sb / CAST(nb AS DOUBLE) AS mb,
            (qa - sa * sa / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
            (qb - sb * sb / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
          FROM st),
        k AS (SELECT na, nb, ma, mb,
            va / CAST(na AS DOUBLE) AS ka, vb / CAST(nb AS DOUBLE) AS kb
          FROM m)
        SELECT na AS n_a, nb AS n_b,
          round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
          round((ma - mb) / sqrt(ka + kb), 4) AS t_stat,
          round((ka + kb) * (ka + kb) / (ka * ka / CAST(na - 1 AS DOUBLE)
            + kb * kb / CAST(nb - 1 AS DOUBLE)), 4) AS df
        FROM k"""),
      (s, d) => {
        val st = t(s, d, "events")
          .filter(col("event_type").isin("purchase", "error"))
          .agg(
            count(when(col("event_type") === "purchase", 1)).as("na"),
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
        val k = m.select(col("na"), col("nb"), col("ma"), col("mb"),
          (col("va") / col("na").cast("double")).as("ka"),
          (col("vb") / col("nb").cast("double")).as("kb"))
        k.select(col("na").as("n_a"), col("nb").as("n_b"),
          round(col("ma"), 4).as("mean_a"), round(col("mb"), 4).as("mean_b"),
          round((col("ma") - col("mb")) / sqrt(col("ka") + col("kb")), 4)
            .as("t_stat"),
          round((col("ka") + col("kb")) * (col("ka") + col("kb")) /
            (col("ka") * col("ka") / (col("na") - 1).cast("double")
              + col("kb") * col("kb") / (col("nb") - 1).cast("double")), 4)
            .as("df"))
      }),

    // ---- Cramer's V (categorical effect size) ------------------------------
    // The chi-square test (q147) says WHETHER priority and status are
    // associated; Cramer's V says HOW MUCH, on a scale-free [0,1] axis
    // comparable across tables. Cell/margin counts are exact int64 from
    // one (p,s) partial agg; expected counts keep every product in
    // double (rp*cs would overflow int64 at ~3e9-row margins); the
    // bounded cell-term sum goes through the decimal grid so the 15-cell
    // fold cannot drift with partition order. 100 TB plan: one fact
    // shuffle on the (p,s) grain; margins and totals are group-grain
    // broadcasts off the cached cell table.
    QuerySpec(
      "q228_cramers_v", {
        val e = "CAST(rp AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(nn AS DOUBLE)"
        Some(s"""WITH cell AS (SELECT o_orderpriority AS p, o_orderstatus AS st,
              CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2),
          rt AS (SELECT p, CAST(SUM(o) AS BIGINT) AS rp FROM cell GROUP BY 1),
          ct AS (SELECT st, CAST(SUM(o) AS BIGINT) AS cs FROM cell GROUP BY 1),
          tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cell),
          term AS (SELECT (CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e)
                / ($e) AS t
            FROM cell JOIN rt USING (p) JOIN ct USING (st), tot),
          dr AS (SELECT CAST(COUNT(*) AS BIGINT) AS r FROM rt),
          dc AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM ct),
          agg AS (SELECT ${Exact.sqlDsum("t")} AS chi2 FROM term)
          SELECT r, c, nn AS n, round(chi2, 4) AS chi2,
            round(sqrt(chi2 / (CAST(nn AS DOUBLE)
              * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 4) AS v
          FROM agg, dr, dc, tot""")
      },
      (s, d) => {
        val cell = t(s, d, "orders")
          .groupBy(col("o_orderpriority").as("p"),
            col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("o"))
          .cache() // bounded |p|x|st| grain; feeds margins, total, terms
        val rt = cell.groupBy(col("p")).agg(sum(col("o")).as("rp"))
        val ct = cell.groupBy(col("st")).agg(sum(col("o")).as("cs"))
        val tot = cell.agg(sum(col("o")).as("nn"))
        val e = col("rp").cast("double") * col("cs").cast("double") /
          col("nn").cast("double")
        val term = cell.join(broadcast(rt), "p").join(broadcast(ct), "st")
          .crossJoin(broadcast(tot)) // 1-row scalar total
          .select(((col("o").cast("double") - e) * (col("o").cast("double") - e)
            / e).as("t"))
        val dr = rt.agg(count(lit(1)).as("r"))
        val dc = ct.agg(count(lit(1)).as("c"))
        val agg = term.agg(Exact.dsum(col("t")).as("chi2"))
        agg.crossJoin(broadcast(dr)).crossJoin(broadcast(dc))
          .crossJoin(broadcast(tot))
          .select(col("r"), col("c"), col("nn").as("n"),
            round(col("chi2"), 4).as("chi2"),
            round(sqrt(col("chi2") / (col("nn").cast("double")
              * least(col("r") - 1, col("c") - 1).cast("double"))), 4)
              .as("v"))
      }),

    // ---- Decision stump (best Gini split) ----------------------------------
    // The first split a tree learner would make: the quantity threshold
    // that best separates returned ('R') lineitems, scored by Gini
    // impurity reduction — Gini is 1 - sum(p^2), a RATIONAL function of
    // the class counts, so unlike entropy-based gain it needs no logs and
    // hash-matches across engines. Candidate thresholds live on the
    // integer quantity grid (bounded: |distinct qty| rows), so the
    // cumulative class counts are an unpartitioned window over a
    // group-grain child (guard-compliant); the argmax is ORDER BY the
    // pinned gain expression with the threshold as tie-break. 100 TB
    // plan: one (qty) partial-agg shuffle; everything after is O(grid).
    QuerySpec(
      "q229_decision_stump",
      Some("""WITH b AS (SELECT CAST(round(l_quantity, 0) AS BIGINT) AS x,
            CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
          FROM lineitem),
        g AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt,
            CAST(SUM(y) AS BIGINT) AS pos FROM b GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
            CAST(SUM(pos) AS BIGINT) AS p FROM g),
        cum AS (SELECT x, CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT) AS nl,
            CAST(SUM(pos) OVER (ORDER BY x) AS BIGINT) AS pl FROM g),
        cand AS (SELECT x, nl, pl, n - nl AS nr, p - pl AS pr, n, p
          FROM cum, tot WHERE nl < n),
        sc AS (SELECT x, nl, nr, pl, pr,
            (CAST(nl AS DOUBLE) - (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
               + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE))
              / CAST(nl AS DOUBLE)
             + CAST(nr AS DOUBLE) - (CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
               + CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE))
              / CAST(nr AS DOUBLE)) / CAST(n AS DOUBLE) AS gsplit,
            (CAST(n AS DOUBLE) - (CAST(p AS DOUBLE) * CAST(p AS DOUBLE)
               + CAST(n - p AS DOUBLE) * CAST(n - p AS DOUBLE))
              / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS gparent
          FROM cand)
        SELECT x AS split_x, nl AS n_left, nr AS n_right,
          pl AS pos_left, pr AS pos_right,
          round(gparent, 6) AS gini_parent, round(gsplit, 6) AS gini_split,
          round(gparent - gsplit, 6) AS gain
        FROM sc ORDER BY gparent - gsplit DESC, x LIMIT 1"""),
      (s, d) => {
        val g = t(s, d, "lineitem")
          .select(round(col("l_quantity"), 0).cast("long").as("x"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .groupBy(col("x"))
          .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
        val tot = g.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
        val w = Window.orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = g.withColumn("nl", sum(col("cnt")).over(w))
          .withColumn("pl", sum(col("pos")).over(w))
        val cand = cum.crossJoin(broadcast(tot)) // 1-row totals
          .filter(col("nl") < col("n"))
          .select(col("x"), col("nl"), col("pl"),
            (col("n") - col("nl")).as("nr"), (col("p") - col("pl")).as("pr"),
            col("n"), col("p"))
        val gsplit = (col("nl").cast("double")
          - (col("pl").cast("double") * col("pl").cast("double")
            + (col("nl") - col("pl")).cast("double")
              * (col("nl") - col("pl")).cast("double"))
            / col("nl").cast("double")
          + col("nr").cast("double")
          - (col("pr").cast("double") * col("pr").cast("double")
            + (col("nr") - col("pr")).cast("double")
              * (col("nr") - col("pr")).cast("double"))
            / col("nr").cast("double")) / col("n").cast("double")
        val gparent = (col("n").cast("double")
          - (col("p").cast("double") * col("p").cast("double")
            + (col("n") - col("p")).cast("double")
              * (col("n") - col("p")).cast("double"))
            / col("n").cast("double")) / col("n").cast("double")
        cand.withColumn("gsplit", gsplit).withColumn("gparent", gparent)
          .orderBy((col("gparent") - col("gsplit")).desc, col("x"))
          .limit(1)
          .select(col("x").as("split_x"), col("nl").as("n_left"),
            col("nr").as("n_right"), col("pl").as("pos_left"),
            col("pr").as("pos_right"),
            round(col("gparent"), 6).as("gini_parent"),
            round(col("gsplit"), 6).as("gini_split"),
            round(col("gparent") - col("gsplit"), 6).as("gain"))
      }),

    // ---- Theil-Sen robust trend ---------------------------------------------
    // Median-of-pairwise-slopes trend of monthly revenue — the robust
    // alternative to the q144 OLS fit (one wild month cannot move it).
    // The pair set lives on the MONTH grain (time-bounded: |months|^2
    // pairs regardless of row count), so the all-pairs join is a
    // broadcast over a tiny aggregate, and the median is an exact
    // order-statistic pick (lower+upper middle averaged) — no
    // interpolation ambiguity. Monthly revenues are decimal-grid Exact
    // sums; each slope is one IEEE subtract+divide on identical inputs.
    // 100 TB plan: one month-grain partial agg, then O(|months|^2)
    // driver-free arithmetic; the rank window's child is the pair join
    // of two aggregates (group-grain, guard-compliant).
    QuerySpec(
      "q230_theil_sen",
      Some(s"""WITH m AS (SELECT (year(o_orderdate) - 1995) * 12
              + month(o_orderdate) - 1 AS i,
            ${Exact.sqlDsum("o_totalprice")} AS rev
          FROM orders GROUP BY 1),
        p AS (SELECT (b.rev - a.rev) / CAST(b.i - a.i AS DOUBLE) AS slope
          FROM m a JOIN m b ON a.i < b.i),
        np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM p),
        r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM p),
        lo AS (SELECT slope AS slo FROM r, np WHERE rn = (np + 1) // 2),
        hi AS (SELECT slope AS shi FROM r, np WHERE rn = (np + 2) // 2)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
          np.np AS n_pairs, round((slo + shi) / 2.0, 6) AS sen_slope
        FROM np, lo, hi"""),
      (s, d) => {
        val m = t(s, d, "orders")
          .groupBy(((year(col("o_orderdate")) - 1995) * 12
            + month(col("o_orderdate")) - 1).as("i"))
          .agg(Exact.dsum(col("o_totalprice")).as("rev"))
          .cache() // |months| rows; feeds pairs and the month count
        val p = m.join(broadcast(m.select(col("i").as("j"),
            col("rev").as("rev2"))), col("i") < col("j"))
          .select(((col("rev2") - col("rev"))
            / (col("j") - col("i")).cast("double")).as("slope"))
        val np = p.agg(count(lit(1)).as("np"))
        val r = p.withColumn("rn",
          row_number().over(Window.orderBy(col("slope"))))
        val lo = r.crossJoin(broadcast(np))
          .filter(col("rn") === expr("(np + 1) div 2"))
          .select(col("slope").as("slo"))
        val hi = r.crossJoin(broadcast(np))
          .filter(col("rn") === expr("(np + 2) div 2"))
          .select(col("slope").as("shi"))
        val nm = m.agg(count(lit(1)).as("n_months"))
        nm.crossJoin(broadcast(np)).crossJoin(broadcast(lo))
          .crossJoin(broadcast(hi))
          .select(col("n_months"), col("np").as("n_pairs"),
            round((col("slo") + col("shi")) / lit(2.0), 6).as("sen_slope"))
      }),

    // ---- Autocorrelation function (ACF) ------------------------------------
    // Lag-1..7 autocorrelation of the daily order-count series — the
    // diagnostic that decides whether q190's EWMA or q203's seasonality
    // model is even applicable. Demeaning is done exactly in integers:
    // d_t = n*x_t - S (so no rational mean ever materializes), giving
    // r_k = sum(d_t * d_{t+k}) / sum(d_t^2) as a ratio of two int64s,
    // published as one divide. Missing calendar days simply contribute
    // no lagged pair (calendar-lag semantics). 100 TB plan: the series
    // lives on the bounded DAY grain; the lag join is day-grain x 7
    // (broadcast lag list), nothing data-sized. Headroom: |d_t| <= n*x_max
    // must stay under ~3e9 for d^2 to fit int64 — for unbounded counts
    // switch the two product sums to DECIMAL(38,0) (same plan).
    QuerySpec(
      "q231_acf",
      Some("""WITH day AS (SELECT
            datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS i,
            CAST(COUNT(*) AS BIGINT) AS x FROM orders GROUP BY 1),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS s FROM day),
        dd AS (SELECT i, n * x - s AS d FROM day, tt),
        den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dd),
        lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k),
        num AS (SELECT l.k AS k, CAST(SUM(a.d * b.d) AS BIGINT) AS num
          FROM lags l, dd a, dd b WHERE b.i = a.i + l.k GROUP BY 1)
        SELECT k AS lag, tt.n AS n_days,
          round(CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE), 6) AS acf
        FROM num, den, tt"""),
      (s, d) => {
        import s.implicits._
        val day = t(s, d, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01")).as("i"))
          .agg(count(lit(1)).as("x"))
        val tt = day.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        val dd = day.crossJoin(broadcast(tt)) // 1-row totals
          .select(col("i"), (col("n") * col("x") - col("s")).as("d"))
          .cache() // |days| rows; feeds the denominator and the lag join
        val den = dd.agg(sum(col("d") * col("d")).as("den"))
        val lags = Seq(1, 2, 3, 4, 5, 6, 7).toDF("k")
        val num = dd.crossJoin(broadcast(lags))
          .join(dd.select(col("i").as("i2"), col("d").as("d2")),
            col("i2") === col("i") + col("k"))
          .groupBy(col("k")).agg(sum(col("d") * col("d2")).as("num"))
        num.crossJoin(broadcast(den)).crossJoin(broadcast(tt))
          .select(col("k").as("lag"), col("n").as("n_days"),
            round(col("num").cast("double") / col("den").cast("double"), 6)
              .as("acf"))
      }),

    // ---- Cohen's kappa (rater agreement) -----------------------------------
    // Chance-corrected agreement between two independent document-quality
    // raters: a length gate (n_chars >= 300) and a sentence-count gate
    // (>= 3 periods, counted exactly as length minus dot-stripped
    // length). The 2x2 table comes from one conditional-aggregate scan;
    // po/pe/kappa are pinned rationals over the four int64 cells (margin
    // products in double — int64-safe at any scale). 100 TB plan: one
    // partial-agg reduction to a single row; no shuffle wider than the
    // agg. This is the label-quality counterpart to q207's confusion
    // matrix: same table, corrected for chance agreement.
    QuerySpec(
      "q232_cohens_kappa",
      Some("""WITH r AS (SELECT
            CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
            CASE WHEN length(text) - length(replace(text, '.', '')) >= 3
              THEN 1 ELSE 0 END AS b
          FROM documents),
        ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(a * b) AS BIGINT) AS n11,
            CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
            CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
            CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
          FROM r),
        k AS (SELECT n, n11, n10, n01, n00,
            CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
            (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
             + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
          FROM ct)
        SELECT n, n11, n10, n01, n00, round(po, 4) AS po, round(pe, 4) AS pe,
          round((po - pe) / (1 - pe), 4) AS kappa
        FROM k"""),
      (s, d) => {
        val r = t(s, d, "documents").select(
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("a"),
          when(length(col("text"))
            - length(expr("replace(text, '.', '')")) >= 3, 1L)
            .otherwise(0L).as("b"))
        val ct = r.agg(count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("n11"),
          sum(col("a") * (lit(1L) - col("b"))).as("n10"),
          sum((lit(1L) - col("a")) * col("b")).as("n01"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
        val k = ct.select(col("n"), col("n11"), col("n10"), col("n01"),
          col("n00"),
          ((col("n11") + col("n00")).cast("double")
            / col("n").cast("double")).as("po"),
          (((col("n11") + col("n10")).cast("double")
            * (col("n11") + col("n01")).cast("double")
            + (col("n01") + col("n00")).cast("double")
              * (col("n10") + col("n00")).cast("double"))
            / (col("n").cast("double") * col("n").cast("double"))).as("pe"))
        k.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round(col("po"), 4).as("po"), round(col("pe"), 4).as("pe"),
          round((col("po") - col("pe")) / (lit(1) - col("pe")), 4)
            .as("kappa"))
      }),

    // ---- Wald-Wolfowitz runs test ------------------------------------------
    // Is the daily-revenue series random around its median, or does it
    // trend/cycle? Days above vs below the median form a binary sequence;
    // too few runs = trending, too many = oscillating. Ties WITH the
    // median are dropped (standard practice). The median is an exact
    // order-statistic pick over the bounded day grain; the run count is
    // one lag window over the same grain; z is a pinned expression over
    // (runs, n1, n2). 100 TB plan: one day-grain partial agg; every
    // window reads that bounded group-grain frame (GuardSpec rule).
    QuerySpec(
      "q243_runs_test",
      Some("""WITH day AS (SELECT CAST(o_orderdate AS DATE) AS dt,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM day),
        md AS (SELECT cents AS med FROM
          (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM day)
          r, nn WHERE rn = (nd + 1) // 2),
        sg AS (SELECT dt, CASE WHEN cents > med THEN 1 ELSE 0 END AS s
          FROM day, md WHERE cents <> med),
        rr AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY dt) IS NULL
              OR lag(s) OVER (ORDER BY dt) <> s THEN 1 ELSE 0 END AS brk
          FROM sg),
        st AS (SELECT CAST(SUM(s) AS BIGINT) AS n1,
            CAST(SUM(1 - s) AS BIGINT) AS n2,
            CAST(SUM(brk) AS BIGINT) AS runs FROM rr)
        SELECT n1 AS n_above, n2 AS n_below, runs AS n_runs,
          round((CAST(runs AS DOUBLE)
            - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0))
            / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
              * CAST(2 * n1 * n2 - (n1 + n2) AS DOUBLE)
              / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                * CAST(n1 + n2 - 1 AS DOUBLE))), 4) AS z
        FROM st"""),
      (s, d) => {
        val day = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("dt"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
          .cache() // bounded |days| grain; feeds count, median, signs
        val nn = day.agg(count(lit(1)).as("nd"))
        val md = day
          .withColumn("rn", row_number().over(Window.orderBy(col("cents"))))
          .crossJoin(broadcast(nn))
          .filter(col("rn") === expr("(nd + 1) div 2"))
          .select(col("cents").as("med"))
        val sg = day.crossJoin(broadcast(md))
          .filter(col("cents") =!= col("med"))
          .select(col("dt"),
            when(col("cents") > col("med"), 1L).otherwise(0L).as("s"))
        val lg = lag(col("s"), 1).over(Window.orderBy(col("dt")))
        val rr = sg.select(col("s"),
          when(lg.isNull || lg =!= col("s"), 1L).otherwise(0L).as("brk"))
        val st = rr.agg(sum(col("s")).as("n1"),
          sum(lit(1L) - col("s")).as("n2"), sum(col("brk")).as("runs"))
        val n = col("n1") + col("n2")
        val a = lit(2L) * col("n1") * col("n2")
        st.select(col("n1").as("n_above"), col("n2").as("n_below"),
          col("runs").as("n_runs"),
          round((col("runs").cast("double")
            - (a.cast("double") / n.cast("double") + lit(1.0)))
            / sqrt(a.cast("double") * (a - n).cast("double")
              / (n.cast("double") * n.cast("double")
                * (n - 1).cast("double"))), 4).as("z"))
      }),

    // ---- Spearman rank correlation -----------------------------------------
    // Monotone association between order value and order width (item
    // count) — Pearson on tie-averaged ranks, robust to the heavy price
    // tails that distort q152's raw correlation. Ranks never materialize
    // as floats: 2*avgRank = 2*cntBefore + tied + 1 is exact int64 per
    // DISTINCT value (an operators.BlockScan running count), joined back
    // to the fact on the value key; centering uses the EXACT integer
    // mean of 2*rank, which is n+1. rho is one divide over three int64
    // sums. 100 TB plan: two value-grain prefix passes + two value-keyed
    // joins + one reduction; headroom sum|c_x*c_y| <= n^3 caps int64
    // through ~2e6 rows — past that the three product sums switch to
    // DECIMAL(38,0) (same plan; int64->double stays single-rounded).
    QuerySpec(
      "q244_spearman",
      Some(s"""WITH base AS (SELECT o_orderkey,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
            y FROM orders JOIN (SELECT l_orderkey,
              CAST(COUNT(*) AS BIGINT) AS y FROM lineitem GROUP BY 1) li
            ON o_orderkey = l_orderkey),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        cx AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM base GROUP BY 1),
        rx AS (SELECT v, 2 * (SUM(cnt) OVER (ORDER BY v) - cnt) + cnt + 1
            AS r2 FROM cx),
        cy AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM base GROUP BY 1),
        ry AS (SELECT v, 2 * (SUM(cnt) OVER (ORDER BY v) - cnt) + cnt + 1
            AS r2 FROM cy),
        cc AS (SELECT CAST(rx.r2 - (n + 1) AS BIGINT) AS ex,
            CAST(ry.r2 - (n + 1) AS BIGINT) AS ey
          FROM base JOIN rx ON base.x = rx.v JOIN ry ON base.y = ry.v, nn),
        st AS (SELECT CAST(SUM(ex * ey) AS BIGINT) AS sxy,
            CAST(SUM(ex * ex) AS BIGINT) AS sxx,
            CAST(SUM(ey * ey) AS BIGINT) AS syy FROM cc)
        SELECT nn.n AS n,
          round(${Portable.cosDuck("sxy", "sxx", "syy")}, 6) AS rho
        FROM st, nn"""),
      (s, d) => {
        // block-decomposed 2*avgRank per distinct value
        def ranks2(hist: DataFrame): DataFrame =
          BlockScan.runningSums(hist.cache(),
              expr(s"v div ${1L << BlockBits}"), Seq(col("v")),
              Seq("cum" -> col("cnt")))
            .select(col("v"),
              (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1)
                .as("r2"))
        val li = t(s, d, "lineitem").groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("y"))
        val base = t(s, d, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("x"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("x"), col("y"))
          .cache() // feeds the count, both histograms, and the rank joins
        val nn = base.agg(count(lit(1)).as("n"))
        val rx = ranks2(base.groupBy(col("x").as("v"))
          .agg(count(lit(1)).as("cnt")))
        val ry = ranks2(base.groupBy(col("y").as("v"))
          .agg(count(lit(1)).as("cnt")))
        val cc = base
          .join(rx.select(col("v").as("x"), col("r2").as("r2x")), Seq("x"))
          .join(ry.select(col("v").as("y"), col("r2").as("r2y")), Seq("y"))
          .crossJoin(broadcast(nn)) // 1-row count
          .select((col("r2x") - (col("n") + 1)).as("ex"),
            (col("r2y") - (col("n") + 1)).as("ey"))
        val st = cc.agg(sum(col("ex") * col("ey")).as("sxy"),
          sum(col("ex") * col("ex")).as("sxx"),
          sum(col("ey") * col("ey")).as("syy"))
        st.crossJoin(broadcast(nn))
          .select(col("n"),
            round(col("sxy").cast("double") /
              (sqrt(col("sxx").cast("double"))
                * sqrt(col("syy").cast("double"))), 6).as("rho"))
      }),

    // ---- one-way ANOVA F ----------------------------------------------------
    // Does mean event value differ across the five event types? The
    // between/within variance decomposition from per-group sufficient
    // statistics (n, sum, sum-of-squares on the decimal grid) — one
    // conditional-aggregate scan, then group-grain arithmetic: SSW and
    // SSB fold over the |groups| rows on the decimal grid, F is one
    // pinned ratio. Complements q227 (two groups, unequal variances)
    // and q226 (two groups, no normality). 100 TB plan: one partial-agg
    // shuffle on the group key; everything after is O(|groups|).
    QuerySpec(
      "q245_anova_f",
      Some(s"""WITH st AS (SELECT event_type AS g,
            CAST(COUNT(*) AS BIGINT) AS n,
            ${Exact.sqlDsum("value")} AS sx,
            ${Exact.sqlDsum("value * value")} AS sxx
          FROM events GROUP BY 1),
        tm AS (SELECT g, n, sx, sxx,
            sxx - sx * sx / CAST(n AS DOUBLE) AS w,
            sx * sx / CAST(n AS DOUBLE) AS b
          FROM st),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
            CAST(COUNT(*) AS BIGINT) AS k,
            ${Exact.sqlDsum("sx")} AS gx,
            ${Exact.sqlDsum("w")} AS ssw,
            ${Exact.sqlDsum("b")} AS bsum
          FROM tm),
        fin AS (SELECT nn, k, ssw,
            bsum - gx * gx / CAST(nn AS DOUBLE) AS ssb
          FROM tot)
        SELECT k, nn AS n, round(ssb, 4) AS ssb, round(ssw, 4) AS ssw,
          round((ssb / CAST(k - 1 AS DOUBLE))
            / (ssw / CAST(nn - k AS DOUBLE)), 4) AS f_stat
        FROM fin"""),
      (s, d) => {
        val st = t(s, d, "events")
          .groupBy(col("event_type").as("g"))
          .agg(count(lit(1)).as("n"),
            Exact.dsum(col("value")).as("sx"),
            Exact.dsum(col("value") * col("value")).as("sxx"))
        val tm = st.select(col("g"), col("n"), col("sx"), col("sxx"),
          (col("sxx") - col("sx") * col("sx") / col("n").cast("double"))
            .as("w"),
          (col("sx") * col("sx") / col("n").cast("double")).as("b"))
        val tot = tm.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
          Exact.dsum(col("sx")).as("gx"), Exact.dsum(col("w")).as("ssw"),
          Exact.dsum(col("b")).as("bsum"))
        val fin = tot.select(col("nn"), col("k"), col("ssw"),
          (col("bsum") - col("gx") * col("gx") / col("nn").cast("double"))
            .as("ssb"))
        fin.select(col("k"), col("nn").as("n"),
          round(col("ssb"), 4).as("ssb"), round(col("ssw"), 4).as("ssw"),
          round((col("ssb") / (col("k") - 1).cast("double"))
            / (col("ssw") / (col("nn") - col("k")).cast("double")), 4)
            .as("f_stat"))
      }),

    // ---- L-moments (order-statistics moments) ------------------------------
    // Hosking's L-moments: the robust alternative to q156's power
    // moments — linear in the data, so a single outlier moves L-skewness
    // boundedly where classical skewness explodes. The probability-
    // weighted moments b0/b1/b2 need rank-weighted sums; tie blocks make
    // every rank assignment sum-equivalent, so both weights collapse to
    // CLOSED FORMS on the distinct-value grain (S1 = sum of (r-1),
    // S2 = sum of (r-1)(r-2) over the block — exact integer arithmetic,
    // the divisions by 2 and 6 always exact). Ranks come from an
    // operators.BlockScan running count; each per-value term normalizes by
    // n(n-1)(n-2) BEFORE the decimal-grid fold so magnitudes stay inside the
    // 1e17 headroom. Headroom: c*rank^2 must fit int64 — fine for any
    // near-distinct value column; an all-equal column is degenerate for
    // L-moments anyway.
    QuerySpec(
      "q277_l_moments",
      Some(s"""WITH h AS (SELECT
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
            CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
        cum AS (SELECT v, c,
            CAST(SUM(c) OVER (ORDER BY v) - c AS BIGINT) AS m FROM h),
        w AS (SELECT CAST(v AS DOUBLE) / 100.0 AS x, c, m,
            c * m + (c * (c - 1)) // 2 AS s1,
            c * m * m + m * c * (c - 1)
              + ((c - 1) * c * (2 * c - 1)) // 6
              - (c * m + (c * (c - 1)) // 2) AS s2
          FROM cum),
        b AS (SELECT
            ${Exact.sqlDsum(
        "CAST(c AS DOUBLE) * x / CAST(n AS DOUBLE)")} AS b0,
            ${Exact.sqlDsum("CAST(s1 AS DOUBLE) * x / (CAST(n AS DOUBLE) "
        + "* CAST(n - 1 AS DOUBLE))")} AS b1,
            ${Exact.sqlDsum("CAST(s2 AS DOUBLE) * x / (CAST(n AS DOUBLE) "
        + "* CAST(n - 1 AS DOUBLE) * CAST(n - 2 AS DOUBLE))")} AS b2
          FROM w, tot)
        SELECT tot.n, round(b0, 4) AS l1, round(2 * b1 - b0, 4) AS l2,
          round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS t3
        FROM b, tot"""),
      (s, d) => {
        val h = t(s, d, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("c"))
          .cache()
        val tot = h.agg(sum(col("c")).as("n"))
        val w = BlockScan.runningSums(h, expr(s"v div ${1L << BlockBits}"),
            Seq(col("v")), Seq("m" -> col("c")))
          .withColumn("m", col("m") - col("c"))
          .select((col("v").cast("double") / lit(100.0)).as("x"),
            col("c"), col("m"),
            expr("c * m + (c * (c - 1)) div 2").as("s1"),
            expr("c * m * m + m * c * (c - 1) " +
              "+ ((c - 1) * c * (2 * c - 1)) div 6 " +
              "- (c * m + (c * (c - 1)) div 2)").as("s2"))
        val b = w.crossJoin(broadcast(tot)) // 1-row count
          .agg(
            Exact.dsum(col("c").cast("double") * col("x")
              / col("n").cast("double")).as("b0"),
            Exact.dsum(col("s1").cast("double") * col("x")
              / (col("n").cast("double") * (col("n") - 1).cast("double")))
              .as("b1"),
            Exact.dsum(col("s2").cast("double") * col("x")
              / (col("n").cast("double") * (col("n") - 1).cast("double")
                * (col("n") - 2).cast("double"))).as("b2"))
        b.crossJoin(broadcast(tot))
          .select(col("n"), round(col("b0"), 4).as("l1"),
            round(lit(2) * col("b1") - col("b0"), 4).as("l2"),
            round((lit(6) * col("b2") - lit(6) * col("b1") + col("b0"))
              / (lit(2) * col("b1") - col("b0")), 6).as("t3"))
      }),

    // ---- index of dispersion (Fano factor) ---------------------------------
    // Overdispersion diagnostic per event type: the variance-to-mean
    // ratio of DAILY counts — 1 under a Poisson arrival model, above it
    // for bursty streams (the statistic that decides whether q216's
    // burst detector has anything to find). Exact int64 sufficient
    // stats on the (type, day) grain; the ratio is one pinned tree.
    QuerySpec(
      "q283_dispersion",
      Some("""WITH d AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        st AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx,
            CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM d GROUP BY 1)
        SELECT g AS event_type, n AS n_days, sx AS n_events,
          round(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
              * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE))
            / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 4) AS fano
        FROM st"""),
      (s, d) => {
        val dd = t(s, d, "events")
          .groupBy(col("event_type").as("g"), col("ts").cast("date")
            .as("day"))
          .agg(count(lit(1)).as("x"))
        val st = dd.groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sxx"))
        st.select(col("g").as("event_type"), col("n").as("n_days"),
          col("sx").as("n_events"),
          round(((col("sxx").cast("double") - col("sx").cast("double")
              * col("sx").cast("double") / col("n").cast("double"))
            / (col("n") - 1).cast("double"))
            / (col("sx").cast("double") / col("n").cast("double")), 4)
            .as("fano"))
      }),

    // ---- survey design effect (clustered sampling DEFF) --------------------
    // How much information a nation-clustered sample of order values
    // loses vs simple random sampling: the one-way ANOVA variance
    // components give the intraclass correlation, and DEFF =
    // 1 + (mbar - 1)*ICC is the factor to inflate sample sizes by —
    // q245's machinery pointed at sampling design. Per-cluster exact
    // stats, decimal-grid folds across the bounded cluster set, pinned
    // ratios (m0 is the ANOVA-weighted mean cluster size).
    QuerySpec(
      "q284_design_effect",
      Some(s"""WITH j AS (SELECT c.c_nationkey AS cl, o.o_totalprice AS y
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        g AS (SELECT cl, CAST(COUNT(*) AS BIGINT) AS n,
            ${Exact.sqlDsum("y")} AS sy, ${Exact.sqlDsum("y * y")} AS qy
          FROM j GROUP BY 1),
        tm AS (SELECT cl, n, sy, qy,
            qy - sy * sy / CAST(n AS DOUBLE) AS ssw,
            sy * sy / CAST(n AS DOUBLE) AS bterm,
            CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS nsq
          FROM g),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
            CAST(COUNT(*) AS BIGINT) AS k,
            ${Exact.sqlDsum("sy")} AS gs, ${Exact.sqlDsum("ssw")} AS sswt,
            ${Exact.sqlDsum("bterm")} AS bt, ${Exact.sqlDsum("nsq")} AS nsq
          FROM tm),
        ms AS (SELECT nn, k,
            (bt - gs * gs / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
              AS msb,
            sswt / CAST(nn - k AS DOUBLE) AS msw,
            (CAST(nn AS DOUBLE) - nsq / CAST(nn AS DOUBLE))
              / CAST(k - 1 AS DOUBLE) AS m0
          FROM tot),
        icc AS (SELECT nn, k, msb, msw, m0,
            (msb - msw) / (msb + (m0 - 1.0) * msw) AS icc FROM ms)
        SELECT k AS n_clusters, nn AS n, round(msb, 4) AS msb,
          round(msw, 4) AS msw, round(icc, 6) AS icc,
          round(1.0 + (m0 - 1.0) * icc, 4) AS deff
        FROM icc"""),
      (s, d) => {
        val j = t(s, d, "orders")
          .join(t(s, d, "customer").select(col("c_custkey"),
            col("c_nationkey")), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("cl"), col("o_totalprice").as("y"))
        val g = j.groupBy(col("cl"))
          .agg(count(lit(1)).as("n"), Exact.dsum(col("y")).as("sy"),
            Exact.dsum(col("y") * col("y")).as("qy"))
        val tm = g.select(col("cl"), col("n"), col("sy"), col("qy"),
          (col("qy") - col("sy") * col("sy") / col("n").cast("double"))
            .as("ssw"),
          (col("sy") * col("sy") / col("n").cast("double")).as("bterm"),
          (col("n").cast("double") * col("n").cast("double")).as("nsq"))
        val tot = tm.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
          Exact.dsum(col("sy")).as("gs"), Exact.dsum(col("ssw")).as("sswt"),
          Exact.dsum(col("bterm")).as("bt"), Exact.dsum(col("nsq"))
            .as("nsq"))
        val ms = tot.select(col("nn"), col("k"),
          ((col("bt") - col("gs") * col("gs") / col("nn").cast("double"))
            / (col("k") - 1).cast("double")).as("msb"),
          (col("sswt") / (col("nn") - col("k")).cast("double")).as("msw"),
          ((col("nn").cast("double") - col("nsq") / col("nn").cast("double"))
            / (col("k") - 1).cast("double")).as("m0"))
        val icc = ms.select(col("nn"), col("k"), col("msb"), col("msw"),
          col("m0"),
          ((col("msb") - col("msw"))
            / (col("msb") + (col("m0") - lit(1.0)) * col("msw"))).as("icc"))
        // DEFF uses the same ANOVA-weighted mean cluster size m0 as the
        // ICC denominator (mixing in the simple average nn/k would be
        // internally inconsistent between the two statistics)
        icc.select(col("k").as("n_clusters"), col("nn").as("n"),
          round(col("msb"), 4).as("msb"), round(col("msw"), 4).as("msw"),
          round(col("icc"), 6).as("icc"),
          round(lit(1.0) + (col("m0") - lit(1.0)) * col("icc"), 4)
            .as("deff"))
      }),

    // ---- seasonal-naive forecast error (MASE) ------------------------------
    // The M-competition's scale-free forecast metric: the seasonal-naive
    // forecast's MAE (x_hat = x_{t-12}) scaled by the one-step naive MAE
    // (x_hat = x_{t-1}) over monthly revenue — below 1 means seasonality
    // carries real signal (q203's strength number, expressed as forecast
    // skill). Exact-cents lags over the bounded month grain; integer
    // absolute-error sums; one pinned ratio-of-means.
    QuerySpec(
      "q288_mase",
      Some("""WITH m AS (SELECT (year(o_orderdate) - 1995) * 12
              + month(o_orderdate) - 1 AS i,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
          FROM orders GROUP BY 1),
        lg AS (SELECT i, c, lag(c, 1) OVER (ORDER BY i) AS c1,
            lag(c, 12) OVER (ORDER BY i) AS c12 FROM m),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
            CAST(COUNT(c1) AS BIGINT) AS n1,
            CAST(SUM(abs(c - c1)) AS BIGINT) AS s1,
            CAST(COUNT(c12) AS BIGINT) AS n12,
            CAST(SUM(abs(c - c12)) AS BIGINT) AS s12
          FROM lg)
        SELECT n_months,
          round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0, 4)
            AS mae_naive,
          round(CAST(s12 AS DOUBLE) / CAST(n12 AS DOUBLE) / 100.0, 4)
            AS mae_seasonal,
          round((CAST(s12 AS DOUBLE) / CAST(n12 AS DOUBLE))
            / (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 4) AS mase
        FROM st"""),
      (s, d) => {
        val m = t(s, d, "orders")
          .groupBy(((year(col("o_orderdate")) - 1995) * 12
            + month(col("o_orderdate")) - 1).as("i"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("c"))
        val w = Window.orderBy(col("i"))
        val lg = m.withColumn("c1", lag(col("c"), 1).over(w))
          .withColumn("c12", lag(col("c"), 12).over(w))
        val st = lg.agg(count(lit(1)).as("n_months"),
          count(col("c1")).as("n1"),
          sum(abs(col("c") - col("c1"))).as("s1"),
          count(col("c12")).as("n12"),
          sum(abs(col("c") - col("c12"))).as("s12"))
        st.select(col("n_months"),
          round(col("s1").cast("double") / col("n1").cast("double")
            / lit(100.0), 4).as("mae_naive"),
          round(col("s12").cast("double") / col("n12").cast("double")
            / lit(100.0), 4).as("mae_seasonal"),
          round((col("s12").cast("double") / col("n12").cast("double"))
            / (col("s1").cast("double") / col("n1").cast("double")), 4)
            .as("mase"))
      }),

    // ---- empirical-Bayes rate shrinkage ------------------------------------
    // The baseball-averages estimator applied to per-part return rates:
    // a method-of-moments Beta prior fit on the population of raw rates
    // (parts with n >= 5), then each part's rate shrinks to
    // (k + alpha) / (n + alpha + beta) — small-n parts pull hard toward
    // the prior mean, high-n parts barely move. Rate moments ride the
    // decimal grid; alpha/beta and every shrunk rate are pinned trees.
    // 100 TB plan: one (part) fact aggregate; the prior is a broadcast
    // scalar; top-20 is TakeOrdered.
    QuerySpec(
      "q291_eb_shrinkage",
      Some(s"""WITH g AS (SELECT l_partkey,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
              AS k
          FROM lineitem GROUP BY 1),
        f AS (SELECT l_partkey, n, k,
            CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS r
          FROM g WHERE n >= 5),
        mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
            ${Exact.sqlDsum("r")} AS sr, ${Exact.sqlDsum("r * r")} AS qr
          FROM f),
        pv AS (SELECT np, sr / CAST(np AS DOUBLE) AS m,
            (qr - sr * sr / CAST(np AS DOUBLE)) / CAST(np - 1 AS DOUBLE)
              AS v
          FROM mo),
        ab AS (SELECT np, m, v,
            m * (m * (1.0 - m) / v - 1.0) AS alpha,
            (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
          FROM pv)
        SELECT f.l_partkey, f.n, f.k, round(f.r, 6) AS raw_rate,
          round((CAST(f.k AS DOUBLE) + ab.alpha)
            / (CAST(f.n AS DOUBLE) + ab.alpha + ab.beta), 6)
            AS shrunk_rate
        FROM f, ab
        ORDER BY (CAST(f.k AS DOUBLE) + ab.alpha)
          / (CAST(f.n AS DOUBLE) + ab.alpha + ab.beta) DESC, f.l_partkey
        LIMIT 20"""),
      (s, d) => {
        val g = t(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n"),
            count(when(col("l_returnflag") === "R", 1)).as("k"))
        val f = g.filter(col("n") >= 5)
          .select(col("l_partkey"), col("n"), col("k"),
            (col("k").cast("double") / col("n").cast("double")).as("r"))
          .cache() // part grain; feeds the prior fit AND the shrink pass
        val mo = f.agg(count(lit(1)).as("np"), Exact.dsum(col("r")).as("sr"),
          Exact.dsum(col("r") * col("r")).as("qr"))
        val pv = mo.select(col("np"),
          (col("sr") / col("np").cast("double")).as("m"),
          ((col("qr") - col("sr") * col("sr") / col("np").cast("double"))
            / (col("np") - 1).cast("double")).as("v"))
        val ab = pv.select(col("np"), col("m"), col("v"),
          (col("m") * (col("m") * (lit(1.0) - col("m")) / col("v")
            - lit(1.0))).as("alpha"),
          ((lit(1.0) - col("m")) * (col("m") * (lit(1.0) - col("m"))
            / col("v") - lit(1.0))).as("beta"))
        val shrunk = (col("k").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta"))
        f.crossJoin(broadcast(ab)) // 1-row prior
          .orderBy(shrunk.desc, col("l_partkey")).limit(20)
          .select(col("l_partkey"), col("n"), col("k"),
            round(col("r"), 6).as("raw_rate"),
            round(shrunk, 6).as("shrunk_rate"))
      }),

    // ---- minimum detectable effect (A/B power analysis) --------------------
    // The planning half of q182's test: with the observed arm sizes and
    // pooled purchase rate, what's the smallest absolute (and relative)
    // lift detectable at alpha=0.05, power=80% — the number that
    // decides whether an experiment is worth running BEFORE it runs.
    // (z_{alpha/2} + z_{power}) = 1.96 + 0.8416 pinned constants; one
    // conditional aggregate, one pinned sqrt tree.
    QuerySpec(
      "q292_mde",
      Some("""WITH u AS (SELECT user_id, user_id % 2 AS tr,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
          FROM events GROUP BY 1, 2),
        a AS (SELECT
            CAST(COUNT(CASE WHEN tr = 1 THEN 1 END) AS BIGINT) AS na,
            CAST(COUNT(CASE WHEN tr = 0 THEN 1 END) AS BIGINT) AS nb,
            CAST(SUM(c) AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n
          FROM u),
        p AS (SELECT na, nb, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS pr
          FROM a)
        SELECT na, nb, round(pr, 6) AS pooled_rate,
          round(2.8016 * sqrt(pr * (1.0 - pr)
            * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6)
            AS mde_abs,
          round(2.8016 * sqrt(pr * (1.0 - pr)
            * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
            / pr, 4) AS mde_rel
        FROM p"""),
      (s, d) => {
        val u = t(s, d, "events")
          .groupBy(col("user_id"), (col("user_id") % 2).as("tr"))
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("c"))
        val a = u.agg(count(when(col("tr") === 1, 1)).as("na"),
          count(when(col("tr") === 0, 1)).as("nb"),
          sum(col("c")).as("k"), count(lit(1)).as("n"))
        val p = a.select(col("na"), col("nb"),
          (col("k").cast("double") / col("n").cast("double")).as("pr"))
        val mde = lit(2.8016) * sqrt(col("pr") * (lit(1.0) - col("pr"))
          * (lit(1.0) / col("na").cast("double")
            + lit(1.0) / col("nb").cast("double")))
        p.select(col("na"), col("nb"), round(col("pr"), 6).as("pooled_rate"),
          round(mde, 6).as("mde_abs"),
          round(mde / col("pr"), 4).as("mde_rel"))
      }),

    // ---- capture-recapture population estimate -----------------------------
    // Lincoln-Petersen/Chapman applied to audience sizing: treat the two
    // halves of the window as independent "captures" of the user
    // population; the overlap estimates the total — the ecology
    // estimator that also powers dedup-cardinality and census
    // undercount work. Chapman's (n1+1)(n2+1)/(m+1) - 1 is exact
    // integer arithmetic (floor division identical in both engines);
    // the true distinct count rides along as the fixture-scale check.
    QuerySpec(
      "q293_capture_recapture",
      Some(s"""WITH u AS (SELECT user_id,
            MAX(CASE WHEN epoch_ms(ts) < $CrSplitMs THEN 1 ELSE 0 END)
              AS pre,
            MAX(CASE WHEN epoch_ms(ts) >= $CrSplitMs THEN 1 ELSE 0 END)
              AS post
          FROM events GROUP BY 1),
        a AS (SELECT CAST(SUM(pre) AS BIGINT) AS n1,
            CAST(SUM(post) AS BIGINT) AS n2,
            CAST(SUM(pre * post) AS BIGINT) AS m,
            CAST(COUNT(*) AS BIGINT) AS true_users
          FROM u)
        SELECT n1, n2, m, true_users,
          ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS est_users
        FROM a"""),
      (s, d) => {
        val pre = expr("unix_millis(cast(ts as timestamp))") < CrSplitMs
        val u = t(s, d, "events")
          .groupBy(col("user_id"))
          .agg(max(when(pre, 1L).otherwise(0L)).as("pre"),
            max(when(!pre, 1L).otherwise(0L)).as("post"))
        val a = u.agg(sum(col("pre")).as("n1"), sum(col("post")).as("n2"),
          sum(col("pre") * col("post")).as("m"),
          count(lit(1)).as("true_users"))
        a.select(col("n1"), col("n2"), col("m"), col("true_users"),
          (expr("((n1 + 1) * (n2 + 1)) div (m + 1)") - 1).as("est_users"))
      }),

    // ---- Kendall's tau (ranking agreement) ---------------------------------
    // Do the quantity ranking and the revenue ranking of the top-20
    // parts agree: tau-a = (concordant - discordant) / C(n,2) over the
    // bounded ranking — the pair-counting complement of q244's
    // Spearman. Ranks are row_number with the part key as tie-break
    // (total order); the 20x20 pair join is group-grain; all counts
    // exact.
    QuerySpec(
      "q294_kendall_tau",
      Some("""WITH g AS (SELECT l_partkey,
            CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
              AS qty,
            CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM lineitem GROUP BY 1),
        top AS (SELECT l_partkey, qty, cents FROM g
          ORDER BY cents DESC, l_partkey LIMIT 20),
        r AS (SELECT l_partkey,
            ROW_NUMBER() OVER (ORDER BY qty DESC, l_partkey) AS rq,
            ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey) AS rc
          FROM top),
        pr AS (SELECT CASE WHEN (a.rq - b.rq) * (a.rc - b.rc) > 0 THEN 1
              ELSE 0 END AS conc
          FROM r a JOIN r b ON a.l_partkey < b.l_partkey),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
            CAST(SUM(conc) AS BIGINT) AS c FROM pr)
        SELECT np AS n_pairs, c AS concordant, np - c AS discordant,
          round(CAST(c - (np - c) AS DOUBLE) / CAST(np AS DOUBLE), 6)
            AS kendall_tau
        FROM st"""),
      (s, d) => {
        val g = t(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_quantity"), 0).cast("long")).cast("long")
            .as("qty"),
            sum(round(col("l_extendedprice") * 100, 0).cast("long"))
              .cast("long").as("cents"))
        val top = g.orderBy(col("cents").desc, col("l_partkey")).limit(20)
        val r = top
          .withColumn("rq", row_number().over(
            Window.orderBy(col("qty").desc, col("l_partkey"))))
          .withColumn("rc", row_number().over(
            Window.orderBy(col("cents").desc, col("l_partkey"))))
          .select(col("l_partkey"), col("rq"), col("rc"))
        val pr = r.join(r.select(col("l_partkey").as("pk2"),
            col("rq").as("rq2"), col("rc").as("rc2")),
            col("l_partkey") < col("pk2"))
          .select(when((col("rq") - col("rq2"))
            * (col("rc") - col("rc2")) > 0, 1L).otherwise(0L).as("conc"))
        val st = pr.agg(count(lit(1)).as("np"), sum(col("conc")).as("c"))
        st.select(col("np").as("n_pairs"), col("c").as("concordant"),
          (col("np") - col("c")).as("discordant"),
          round((col("c") - (col("np") - col("c"))).cast("double")
            / col("np").cast("double"), 6).as("kendall_tau"))
      }),

    // ---- sample-ratio mismatch check (SRM) ---------------------------------
    // The experiment-health gate that runs BEFORE any readout: does the
    // hash randomizer actually deliver 50/50 arms? The 1-df chi-square
    // against the even split reduces to (na-nb)^2/n; above 3.841 the
    // assignment itself is broken and every downstream metric is
    // invalid. One distinct-user aggregate over the portable-hash
    // assignment; exact integers, one pinned ratio.
    QuerySpec(
      "q302_srm_check", {
        val h = Portable.h64Duck("'ab:' || CAST(user_id AS VARCHAR)")
        Some(s"""WITH u AS (SELECT DISTINCT user_id, ($h) % 2 AS grp
            FROM events),
          a AS (SELECT
              CAST(COUNT(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS na,
              CAST(COUNT(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS nb
            FROM u)
          SELECT na, nb,
            round(CAST((na - nb) * (na - nb) AS DOUBLE)
              / CAST(na + nb AS DOUBLE), 4) AS chi2,
            (CAST((na - nb) * (na - nb) AS DOUBLE)
              / CAST(na + nb AS DOUBLE) > 3.841) AS srm
          FROM a""")
      },
      (s, d) => {
        val h = Portable.h64Spark("concat('ab:', cast(user_id as string))")
        val u = t(s, d, "events")
          .select(col("user_id"), (expr(h) % 2).as("grp")).distinct()
        val a = u.agg(count(when(col("grp") === 0, 1)).as("na"),
          count(when(col("grp") === 1, 1)).as("nb"))
        val chi2 = ((col("na") - col("nb")) * (col("na") - col("nb")))
          .cast("double") / (col("na") + col("nb")).cast("double")
        a.select(col("na"), col("nb"), round(chi2, 4).as("chi2"),
          (chi2 > 3.841).as("srm"))
      }),

    // ---- 1-NN caliper matching (observational ATT) -------------------------
    // Causal matching with replacement: each treated user pairs with its
    // nearest control on the average-event-value feature, candidates
    // restricted to +-1 one-dollar feature buckets (the caliper AND
    // the scale bound — the q275 1D grid-join pattern; candidate count
    // scales with bucket DENSITY, so the caliper width is the knob a
    // 100 TB run tightens, exactly like q275's grid resolution and
    // q98's cell count), argmin by (distance,
    // control id) so every match is a total-order pick. Matching WITH
    // replacement keeps the estimator order-free (greedy 1:1 without
    // replacement is sequential and engine-dependent). ATT is the mean
    // matched difference on the exact cents grid.
    QuerySpec(
      "q305_nn_matching",
      Some(s"""WITH u AS (SELECT user_id, user_id % 2 AS tr,
            CAST(floor(${Exact.sqlDsum("value")} / COUNT(*) * 100.0)
              AS BIGINT) AS f
          FROM events GROUP BY 1, 2),
        tr1 AS (SELECT user_id AS tid, f AS ft, f // 100 AS b FROM u
          WHERE tr = 1),
        c0 AS (SELECT user_id AS cid, f AS fc, f // 100 AS b FROM u
          WHERE tr = 0),
        cand AS (SELECT t.tid, t.ft, c.cid, c.fc, abs(t.ft - c.fc) AS dist
          FROM tr1 t JOIN c0 c ON c.b BETWEEN t.b - 1 AND t.b + 1),
        best AS (SELECT tid, ft, cid, fc, dist FROM (SELECT tid, ft, cid,
              fc, dist, ROW_NUMBER() OVER (PARTITION BY tid
                ORDER BY dist, cid) AS rn
            FROM cand) z WHERE rn = 1),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
            CAST(SUM(ft - fc) AS BIGINT) AS sdiff,
            CAST(SUM(dist) AS BIGINT) AS sdist FROM best),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_treated FROM tr1)
        SELECT nt.n_treated, st.n_matched,
          round(CAST(sdiff AS DOUBLE) / CAST(n_matched AS DOUBLE)
            / 100.0, 4) AS att,
          round(CAST(sdist AS DOUBLE) / CAST(n_matched AS DOUBLE)
            / 100.0, 4) AS mean_match_dist
        FROM st, nt"""),
      (s, d) => {
        val u = t(s, d, "events")
          .groupBy(col("user_id"), (col("user_id") % 2).as("tr"))
          .agg(floor(Exact.dsum(col("value")) / count(lit(1)) * lit(100.0))
            .cast("long").as("f"))
        val tr1 = u.filter(col("tr") === 1)
          .select(col("user_id").as("tid"), col("f").as("ft"),
            expr("f div 100").as("b"))
        val c0 = u.filter(col("tr") === 0)
          .select(col("user_id").as("cid"), col("f").as("fc"),
            expr("f div 100").as("b"))
        import s.implicits._
        val off = Seq(-1, 0, 1).toDF("db")
        val cand = tr1.crossJoin(broadcast(off))
          .select(col("tid"), col("ft"), (col("b") + col("db")).as("b"))
          .join(c0, Seq("b"))
          .select(col("tid"), col("ft"), col("cid"), col("fc"),
            abs(col("ft") - col("fc")).as("dist"))
        val best = cand.withColumn("rn", row_number().over(
          Window.partitionBy(col("tid")).orderBy(col("dist"), col("cid"))))
          .filter(col("rn") === 1)
        val st = best.agg(count(lit(1)).as("n_matched"),
          sum(col("ft") - col("fc")).as("sdiff"),
          sum(col("dist")).as("sdist"))
        val nt = tr1.agg(count(lit(1)).as("n_treated"))
        st.crossJoin(broadcast(nt)) // 1-row treated count
          .select(col("n_treated"), col("n_matched"),
            round(col("sdiff").cast("double")
              / col("n_matched").cast("double") / lit(100.0), 4).as("att"),
            round(col("sdist").cast("double")
              / col("n_matched").cast("double") / lit(100.0), 4)
              .as("mean_match_dist"))
      }),

    // ---- Kish effective sample size ----------------------------------------
    // What a weighted sample is actually worth: n_eff = (sum w)^2 /
    // sum(w^2) — the survey-statistics number that turns any weighting
    // scheme (here revenue weights) into an equivalent simple-random-
    // sample size, with efficiency = n_eff/n. Decimal-grid weight sums,
    // one pinned ratio pair.
    QuerySpec(
      "q307_kish_neff",
      Some(s"""WITH w AS (SELECT o_totalprice AS wt FROM orders),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            ${Exact.sqlDsum("wt")} AS sw,
            ${Exact.sqlDsum("wt * wt")} AS sww
          FROM w)
        SELECT n, round(sw * sw / sww, 2) AS n_eff,
          round(sw * sw / sww / CAST(n AS DOUBLE), 6) AS efficiency
        FROM st"""),
      (s, d) => {
        val st = t(s, d, "orders")
          .select(col("o_totalprice").as("wt"))
          .agg(count(lit(1)).as("n"), Exact.dsum(col("wt")).as("sw"),
            Exact.dsum(col("wt") * col("wt")).as("sww"))
        st.select(col("n"),
          round(col("sw") * col("sw") / col("sww"), 2).as("n_eff"),
          round(col("sw") * col("sw") / col("sww")
            / col("n").cast("double"), 6).as("efficiency"))
      }),

    // ---- per-group closed-form OLS (slope / intercept / R²) ----------------
    // The GROUPED simple linear regression every metrics warehouse runs
    // (trend per segment): order value in whole DOLLARS (exact longs —
    // the dollar grid keeps Σy² ≈ 2e15 far inside int64, where the cents
    // grid would overflow at sf1+) against the month index, grouped by
    // the customer's nation. All six sufficient statistics are exact
    // int64 sums; slope/intercept/R² are pinned IEEE trees over them —
    // every centered product forms in DOUBLE (n·Σy² ≈ 1e20 at sf1 would
    // overflow int64); published floats truncate via floor (half-tie
    // discipline). 100 TB plan: the customer attach is a keyed shuffle
    // join (customer grows with SF — never broadcast, the q179 rule),
    // then ONE bounded-grain partial-agg shuffle and arithmetic on 25
    // rows.
    QuerySpec(
      "q327_group_ols",
      Some("""WITH j AS (SELECT c.c_nationkey AS nk,
            (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1
              AS x,
            CAST(round(o.o_totalprice, 0) AS BIGINT) AS y
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        st AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * y) AS BIGINT) AS sxy,
            CAST(SUM(x * x) AS BIGINT) AS sxx,
            CAST(SUM(y * y) AS BIGINT) AS syy
          FROM j GROUP BY 1),
        c AS (SELECT nk, n,
            CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
            CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
            CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
            CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy
          FROM st)
        SELECT nk AS nation, n,
          floor(cxy / cxx * 1000000.0) / 1000000.0 AS slope,
          floor((dy - cxy / cxx * dx) / CAST(n AS DOUBLE) * 10000.0)
            / 10000.0 AS intercept,
          floor(cxy * cxy / (cxx * cyy) * 1000000.0) / 1000000.0 AS r2
        FROM c"""),
      (s, d) => {
        // customer grows with SF — keyed join, never broadcast (q179)
        val j = t(s, d, "orders")
          .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("nk")),
            col("o_custkey") === col("c_custkey"))
          .select(col("nk"),
            (expr("(year(o_orderdate) - 1992) * 12")
              + month(col("o_orderdate")) - 1).as("x"),
            round(col("o_totalprice"), 0).cast("long").as("y"))
        val st = j.groupBy(col("nk"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
        // centered products in DOUBLE: n*syy ~ 1e20 at sf1 would
        // overflow int64 (ANSI throws); each cast+multiply+subtract is
        // single-rounded and identical in both engines
        val c = st.select(col("nk"), col("n"),
          (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            .as("cxy"),
          (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            .as("cxx"),
          (col("n").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double"))
            .as("cyy"),
          col("sx").cast("double").as("dx"), col("sy").cast("double")
            .as("dy"))
        c.select(col("nk").as("nation"), col("n"),
          (floor(col("cxy") / col("cxx") * lit(1000000.0))
            / lit(1000000.0)).as("slope"),
          (floor((col("dy") - col("cxy") / col("cxx") * col("dx"))
            / col("n").cast("double") * lit(10000.0)) / lit(10000.0))
            .as("intercept"),
          (floor(col("cxy") * col("cxy") / (col("cxx") * col("cyy"))
            * lit(1000000.0)) / lit(1000000.0)).as("r2"))
      })
  )
}
