package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.operators.BlockScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph and model-evaluation statistics operators.
  *
  * Shared discipline with the sketch family (Quality.scala): every
  * floating-point output is produced by the SAME single-rounded IEEE
  * scalar ops on BOTH engines' side, fed by exact (integer/decimal)
  * aggregates — sums are associative longs, so partition order can't
  * perturb them, and int64→double conversion plus each individual
  * multiply/divide/sqrt is correctly rounded in both Spark and DuckDB.
  * The aggregate state is integer; only the last scalar expressions are
  * float. That is what lets a triangle count, an OLS fit, and an AUC
  * hash-match the oracle bit-for-bit.
  */
object Statistics {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Minimum co-order support for a part pair to count as a graph edge.
    * The support threshold is the sparsifier that makes triangle counting
    * tractable at scale: singleton co-occurrences on a TPC-H-ish order
    * stream are noise (random pairs), and keeping them makes the graph
    * dense (5.8% at sf0.01 — 116 k edges on 2 k parts). Pairs seen >= 2
    * times are the repeat signal, and their count grows sublinearly with
    * corpus size (collision probability per pair falls as the catalog
    * widens: 3.4 k edges at sf0.01, ~14 k expected at sf0.1).
    */
  private val TriMinSupport = 2

  /** q343 labeling budget (total holdout rows to allocate) — an
    * evaluation-design constant, not a corpus function.
    */
  private val EvalBudget = 10000L

  /** Conversion event for the A/B readout: at least one order above this
    * total (~1/3 of customers convert at sf0.01 — selective enough that
    * both arms carry real negatives).
    */
  private val AbBigTicket = 400000

  /** AUC prefix-sum block width in price units (the block key of
    * operators.BlockScan).
    */
  private val AucBlock = 65536.0


  /** Benford first-digit probabilities log10(1+1/d), precomputed to full
    * double precision — interpolated as the SAME literal into both
    * engines' SQL (decimal-string→double parse is correctly rounded
    * everywhere, unlike runtime log()).
    */
  private val Benford: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  val all: Seq[QuerySpec] = Seq(

    // ---- triangle counting (degree-oriented wedge join) ---------------------
    // The co-purchase graph: parts are nodes, an edge is a pair of parts
    // co-ordered in >= TriMinSupport distinct orders. Triangles are
    // counted on DEGREE-ORIENTED edges (each undirected edge points from
    // its (degree, id)-smaller endpoint to the larger): every triangle is
    // then generated by exactly ONE wedge join e1(u,v) |X| e2(v,w) with a
    // closing-edge check e3(u,w) — no 3x/6x overcount, and the wedge join
    // size is Sum d_out^2 = O(m^1.5) for any graph (Schank & Wagner '05)
    // instead of Sum d^2. Output rides the exact-integer contract: counts
    // are longs; the clustering coefficient 3T/W is one int64->double
    // conversion pair and one divide, bit-identical in both engines.
    // 100 TB posture: e0 is one shuffle of the (order, part) projection
    // keyed by order (order sizes are bounded, so the per-order pair
    // explosion is too), the support filter prunes before anything
    // quadratic, deg broadcasts (|parts| rows), and the wedge join
    // shuffles only the sparsified edge table on its join keys.
    QuerySpec(
      "q135_triangles",
      Some(s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (SELECT a.l_partkey AS a, b.l_partkey AS b
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
        deg AS MATERIALIZED (SELECT v, COUNT(*) AS d
          FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
          GROUP BY 1),
        e AS MATERIALIZED (SELECT
            CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
            CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v
          FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
        tri AS (SELECT COUNT(*) AS n FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges,
            CAST(COUNT(*) AS BIGINT) AS n_nodes
          FROM deg)
        SELECT w.n_nodes, (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
          w.wedges, CAST(tri.n AS BIGINT) AS n_triangles,
          CAST(3 * tri.n AS DOUBLE) / CAST(NULLIF(w.wedges, 0) AS DOUBLE)
            AS clustering
        FROM w, tri"""),
      (s, d) => {
        // pair build via the shared basket fan-out — see Baskets' header
        val e0 = Baskets
          .pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .where(col("w") >= TriMinSupport)
          .select(col("pa").as("a"), col("pb").as("b"))
          .cache() // feeds deg, e, and the edge count — one pair build, not three
        val deg = e0.select(col("a").as("v"))
          .unionByName(e0.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
        val e = e0
          .join(broadcast(deg.select(col("v").as("a"), col("d").as("da"))),
            "a")
          .join(broadcast(deg.select(col("v").as("b"), col("d").as("db"))),
            "b")
          .select(
            when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
              col("a")).otherwise(col("b")).as("u"),
            when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
              col("b")).otherwise(col("a")).as("v"))
          .cache() // three-way self-join below
        val tri = e
          .join(e.select(col("u").as("u2"), col("v").as("v2")),
            col("v") === col("u2"))
          .join(e.select(col("u").as("u3"), col("v").as("v3")),
            col("u") === col("u3") && col("v2") === col("v3"))
          .agg(count(lit(1)).as("n_triangles"))
        val w = deg.agg(
          sum(expr("d * (d - 1) div 2")).cast("long").as("wedges"),
          count(lit(1)).as("n_nodes"))
        val ne = e0.agg(count(lit(1)).as("n_edges"))
        // The three single-row summary frames combine WITHOUT a join: a
        // lit(1) equi-key gets constant-folded by Catalyst into a
        // BroadcastNestedLoopJoin, and a 1x1 BNL — though harmless at
        // scale — would force PlanSpec's "no nested-loop ANYWHERE" guard
        // (which exists to police the wedge self-join) to carry carve-outs.
        // Tag each metric into a (m, v) row, union the three frames, and
        // fold them with ONE conditional aggregate: the plan stays
        // BNL-free for real.
        val tagged = tri
          .select(lit("t").as("m"), col("n_triangles").cast("long").as("v"))
          .unionByName(w.select(explode(array(
              struct(lit("w").as("m"), col("wedges").cast("long").as("v")),
              struct(lit("n").as("m"), col("n_nodes").cast("long").as("v"))))
              .as("s"))
            .select(col("s.m").as("m"), col("s.v").as("v")))
          .unionByName(ne
            .select(lit("e").as("m"), col("n_edges").cast("long").as("v")))
        tagged.agg(
            max(when(col("m") === "n", col("v"))).as("n_nodes"),
            max(when(col("m") === "e", col("v"))).as("n_edges"),
            max(when(col("m") === "w", col("v"))).as("wedges"),
            max(when(col("m") === "t", col("v"))).as("n_triangles"))
          .select(col("n_nodes"), col("n_edges"), col("wedges"),
            col("n_triangles"),
            ((col("n_triangles") * 3).cast("double")
              / nullif(col("wedges"), lit(0L)).cast("double"))
              .as("clustering"))
      }),

    // ---- per-group OLS regression (closed form over exact sums) -------------
    // Simple linear regression of extended price on quantity per return
    // flag, from the five classic sufficient statistics — but aggregated
    // EXACTLY: quantity is integral and price is a whole number of cents
    // in this schema, so n, Sx, Sy, Sxy, Sxx, Syy are plain long sums
    // (associative — safe under any partitioning), and the slope is
    // published as an exact integer rational (num/den in cent units)
    // alongside the float values. Int64 headroom: the slope rational's
    // widest term n*Sxy is ~3e18 at sf0.1 (quantity <= 50 keeps the
    // x-side small); the y-side variance term n*Syy does NOT fit (Syy
    // sums squared cents) and is computed in DOUBLE from the exact long
    // sums instead — identical single-rounded ops both sides, still
    // bit-portable. A 100 TB deployment moves Syy onto the Exact decimal
    // grid — same shape, one partial-agg shuffle of six counters either
    // way.
    // Zero-variance or singleton groups yield NULL (not Inf) in both
    // engines via the NULLIF guard.
    QuerySpec(
      "q136_regression",
      // DuckDB SUMs of BIGINT widen to HUGEINT, and HUGEINT->DOUBLE is a
      // two-rounding conversion past 2^53 (the Exact.scala cliff) — so
      // every term is first CAST to BIGINT (exact) and only then to
      // DOUBLE (single correctly-rounded op, matching Spark's
      // long->double bit-for-bit).
      Some("""WITH b AS (SELECT l_returnflag AS g,
          CAST(round(l_quantity, 0) AS BIGINT) AS x,
          CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem),
      s AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM b GROUP BY g),
      f AS (SELECT g, CAST(n AS BIGINT) AS n,
          CAST(n * sxy - sx * sy AS BIGINT) AS num,
          CAST(n * sxx - sx * sx AS BIGINT) AS den,
          CAST(sy AS BIGINT) AS sy_b, CAST(syy AS BIGINT) AS syy_b
        FROM s)
      SELECT g AS l_returnflag, n, num AS slope_num, den AS slope_den,
        CAST(num AS DOUBLE) / CAST(NULLIF(den, 0) AS DOUBLE) / 100.0
          AS slope_dollars,
        (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
          / (CAST(NULLIF(den, 0) AS DOUBLE)
             * NULLIF(CAST(n AS DOUBLE) * CAST(syy_b AS DOUBLE)
               - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE), 0.0))
          AS r2
      FROM f"""),
      (s, d) => {
        val b = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
          expr("cast(round(l_quantity, 0) as bigint)").as("x"),
          expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("y"))
        val st = b.groupBy(col("g")).agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          // Syy sums squared cents — the one term already within ~2x of
          // int64 headroom at sf0.1 group sizes. Aggregate it on the exact
          // decimal grid (each y*y term fits int64; only the sum can't),
          // then pin to int64 with a LOUD overflow guard below: DuckDB's
          // CAST(HUGEINT AS BIGINT) throws past int64, and a silent
          // long-sum wraparound here would be an engine divergence rather
          // than a clean matching failure.
          // Cast y to decimal BEFORE the multiply so the per-term product
          // is also on the exact grid (a bare long*long term would wrap
          // silently past |y| ~ 3.03e9 cents before the decimal sum ever
          // saw it).
          sum(col("y").cast("decimal(19,0)") *
            col("y").cast("decimal(19,0)")).as("syy_d"))
          .withColumn("syy",
            // NULL passes through as NULL (matching the oracle's
            // CAST(NULL AS BIGINT)); only a genuinely out-of-range sum
            // trips the guard.
            when(col("syy_d").isNull ||
              col("syy_d").between(lit(Long.MinValue), lit(Long.MaxValue)),
              col("syy_d").cast("long"))
              .otherwise(raise_error(lit(
                "q136: Syy exceeds int64 — move the y-side variance onto " +
                  "the decimal grid"))))
        val num = col("n") * col("sxy") - col("sx") * col("sy")
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        // n*Syy overflows int64 (Syy sums squared cents), so the y-side
        // variance term is computed in DOUBLE from the exact long sums:
        // int64->double conversions then one multiply/subtract each —
        // identical single-rounded ops on identical inputs in both
        // engines, so still bit-portable.
        val deny = col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")
        st.select(col("g").as("l_returnflag"), col("n"),
          num.cast("long").as("slope_num"), den.cast("long").as("slope_den"),
          (num.cast("double") / nullif(den, lit(0L)).cast("double")
            / lit(100.0)).as("slope_dollars"),
          ((num.cast("double") * num.cast("double"))
            / (nullif(den, lit(0L)).cast("double")
               * nullif(deny, lit(0.0)))).as("r2"))
      }),

    // ---- ROC AUC (Mann-Whitney rank statistic, tie-aware) -------------------
    // Does order total "score" predict the fulfilled status? AUC via the
    // pair-count identity AUC = (#{pos>neg} + #{pos=neg}/2)/(pos*neg),
    // computed WITHOUT the O(n^2) pair join: group to one row per
    // distinct score, run a prefix sum of negatives over the score order,
    // and the pair counts are two exact long dot products. The prefix sum is
    // operators.BlockScan on a price-range block key — no data-sized
    // single-partition window. DuckDB (single-threaded) runs the plain global
    // window: same values. Pair-count products fit int64 through ~3e9 rows
    // per side; past that the one final ratio moves to the decimal grid.
    QuerySpec(
      "q137_auc",
      // Same BIGINT-before-DOUBLE discipline as q136: DuckDB's HUGEINT
      // sums are first pinned to exact int64 and only then converted.
      Some("""WITH sc AS (SELECT o_totalprice AS s,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS np,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
            AS BIGINT) AS nn
        FROM orders GROUP BY 1),
      r AS (SELECT np, nn, COALESCE(CAST(SUM(nn) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
          0) AS cnb
        FROM sc),
      a AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
          CAST(SUM(nn) AS BIGINT) AS n_neg,
          CAST(SUM(np * cnb) AS BIGINT) AS pairs_gt,
          CAST(SUM(np * nn) AS BIGINT) AS pairs_eq
        FROM r)
      SELECT n_pos, n_neg, pairs_gt, pairs_eq,
        CAST(2 * pairs_gt + pairs_eq AS DOUBLE)
          / CAST(NULLIF(2 * n_pos * n_neg, 0) AS DOUBLE) AS auc
      FROM a"""),
      (s, d) => {
        val isPos = col("o_orderstatus") === "F"
        val sc = t(s, d, "orders")
          .groupBy(col("o_totalprice").as("s"))
          .agg(sum(when(isPos, 1L).otherwise(0L)).as("np"),
            sum(when(isPos, 0L).otherwise(1L)).as("nn"))
          .cache() // feeds BlockScan's window AND its block totals
        BlockScan.runningSums(sc, floor(col("s") / AucBlock).cast("long"),
            Seq(col("s")), Seq("cnb" -> col("nn")))
          .withColumn("cnb", col("cnb") - col("nn"))
          .agg(sum(col("np")).cast("long").as("n_pos"),
            sum(col("nn")).cast("long").as("n_neg"),
            sum(col("np") * col("cnb")).cast("long").as("pairs_gt"),
            sum(col("np") * col("nn")).cast("long").as("pairs_eq"))
          .select(col("n_pos"), col("n_neg"), col("pairs_gt"),
            col("pairs_eq"),
            ((col("pairs_gt") * 2 + col("pairs_eq")).cast("double")
              / nullif(col("n_pos") * col("n_neg") * 2, lit(0L))
                .cast("double")).as("auc"))
      }),

    // ---- chi-square test of independence (lang x source) -------------------
    // Is language distribution independent of source? Pearson's X² over
    // the contingency table. Observed counts are one partial-agg shuffle;
    // EVERYTHING after runs on the |lang|x|source|-row cell table
    // (corpus-size-independent — category cardinalities, not rows), so
    // the windows that attach row/column/grand totals never see
    // data-sized input. Per-cell terms are single-rounded IEEE ops on
    // exact longs; the cross-cell sum rides the Exact decimal grid
    // (order-independent), so X² hash-matches. rt*ct caps int64 at ~3e9
    // docs; past that the margins move to the decimal grid.
    QuerySpec(
      "q147_chisq",
      Some(s"""WITH o AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2),
          tot AS (SELECT o,
              CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS rt,
              CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS ct,
              CAST(SUM(o) OVER () AS BIGINT) AS n
            FROM o),
          term AS (SELECT
              (CAST(o AS DOUBLE)
                 - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(o AS DOUBLE)
                 - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) AS t
            FROM tot),
          agg AS (SELECT ${Exact.sqlDsum("t")} AS chi2 FROM term),
          d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang,
              CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source
            FROM documents)
        SELECT d.n, d.n_lang, d.n_source,
          CAST((d.n_lang - 1) * (d.n_source - 1) AS BIGINT) AS dof,
          agg.chi2
        FROM d, agg"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val o = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        // windows over the tiny cell table only (|lang| x |source| rows)
        val tot = o
          .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("lang"))))
          .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("source"))))
          .withColumn("n", sum(col("o")).over(Window.partitionBy()))
        val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
        val term = tot.select(
          ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
            .as("t"))
        val agg = term.agg(Exact.dsum(col("t")).as("chi2"))
        val dd = docs.agg(count(lit(1)).as("n"),
          countDistinct(col("lang")).as("n_lang"),
          countDistinct(col("source")).as("n_source"))
        dd.crossJoin(agg).select(col("n"), col("n_lang"), col("n_source"),
          ((col("n_lang") - 1) * (col("n_source") - 1)).cast("long").as("dof"),
          col("chi2"))
      }),

    // ---- Benford first-digit audit ------------------------------------------
    // Fraud/synthetic-data smell test: the first significant digit of
    // order totals against Benford's law. Expected proportions are the
    // SAME nine compile-time double literals interpolated into both
    // engines (log10(1+1/d) precomputed — no runtime transcendentals, the
    // q142 rule), observed proportions one int64->double divide each.
    // Shape: row-local digit extraction, one 9-group partial-agg shuffle.
    QuerySpec(
      "q148_benford", {
        def caseSql(col: String) = "CASE " + col +
          Benford.map { case (dg, p) => s" WHEN $dg THEN ${p}e0" }
            .mkString + " END"
        Some(s"""WITH c AS (SELECT CAST(substring(CAST(
              CAST(round(o_totalprice * 100, 0) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders),
          g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
            FROM c GROUP BY 1),
          t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
        SELECT digit, n,
          CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS obs_p,
          ${caseSql("digit")} AS exp_p,
          CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
            - ${caseSql("digit")} AS dev
        FROM g, t""")
      },
      (s, d) => {
        val g = t(s, d, "orders")
          .select(substring(round(col("o_totalprice") * 100, 0)
            .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = g.agg(sum(col("n")).cast("long").as("tot"))
        val expP = Benford.tail.foldLeft(
          when(col("digit") === Benford.head._1, lit(Benford.head._2))) {
          case (acc, (dg, p)) => acc.when(col("digit") === dg, lit(p))
        }
        g.crossJoin(broadcast(tot)).select(col("digit"), col("n"),
          (col("n").cast("double") / col("tot").cast("double")).as("obs_p"),
          expP.as("exp_p"),
          (col("n").cast("double") / col("tot").cast("double") - expP)
            .as("dev"))
      }),

    // ---- Pearson correlation matrix (exact sufficient statistics) ----------
    // Pairwise correlation of quantity / price-dollars / discount-bp in
    // ONE pass: a single partial+final aggregate collects every
    // sufficient statistic (the q136 discipline — integral grids, so the
    // sums are associative longs). Correlation is scale-invariant, so
    // price rides the WHOLE-DOLLAR grid: the cents grid's Sum(cents²)
    // crosses int64 exactly at this fixture's sf0.1 (~9.2e18 — found by
    // the loud overflow guard, not by silent wrap), while dollars² keeps
    // four orders of headroom through bench scale. Each correlation is
    // then mul/sub/sqrt/div in IEEE double over the exact int64s (the
    // n·Syy products would wrap int64) — identical single-rounded ops
    // both engines, still bit-portable. Past ~1e12 rows the squared sums
    // move to the decimal grid with a split conversion.
    QuerySpec(
      "q152_correlation",
      Some("""WITH b AS (SELECT
            CAST(round(l_quantity, 0) AS BIGINT) AS x,
            CAST(round(l_extendedprice, 0) AS BIGINT) AS y,
            CAST(round(l_discount * 10000, 0) AS BIGINT) AS z
          FROM lineitem),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(z) AS BIGINT) AS sz,
            CAST(SUM(x * y) AS BIGINT) AS sxy,
            CAST(SUM(x * z) AS BIGINT) AS sxz,
            CAST(SUM(y * z) AS BIGINT) AS syz,
            CAST(SUM(x * x) AS BIGINT) AS sxx,
            CAST(SUM(y * y) AS BIGINT) AS syy,
            CAST(SUM(z * z) AS BIGINT) AS szz
          FROM b),
        f AS (SELECT 'quantity~price' AS pair, n, sx AS sa, sy AS sb,
            sxy AS sab, sxx AS saa, syy AS sbb FROM st
          UNION ALL SELECT 'quantity~discount', n, sx, sz, sxz, sxx, szz
            FROM st
          UNION ALL SELECT 'price~discount', n, sy, sz, syz, syy, szz
            FROM st)
        SELECT pair, n,
          (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
             - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
          / NULLIF(sqrt(
              (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0.0) AS corr
        FROM f"""),
      (s, d) => {
        val b = t(s, d, "lineitem").select(
          expr("cast(round(l_quantity, 0) as bigint)").as("x"),
          expr("cast(round(l_extendedprice, 0) as bigint)").as("y"),
          expr("cast(round(l_discount * 10000, 0) as bigint)").as("z"))
        // Sum(y*y) keeps ~4 orders of int64 headroom on the dollar grid,
        // but it is still the first stat to overflow at extreme scale —
        // so it alone rides the exact decimal grid with the q136
        // NULL-safe pin: a LOUD failure past int64, never a silent wrap
        // (which is exactly how the cents-grid overflow at sf0.1 was
        // caught). DuckDB's checked HUGEINT->BIGINT cast errors at the
        // same boundary, so neither engine can wrap quietly.
        val st = b.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("z")).as("sz"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("z")).as("sxz"),
          sum(col("y") * col("z")).as("syz"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(19,0)")
            * col("y").cast("decimal(19,0)")).as("syy_d"),
          sum(col("z") * col("z")).as("szz"))
          .withColumn("syy",
            when(col("syy_d").isNull ||
              col("syy_d").between(lit(Long.MinValue), lit(Long.MaxValue)),
              col("syy_d").cast("long"))
              .otherwise(raise_error(lit(
                "q152: Syy exceeds int64 — move the variance grid to decimal"))))
          .cache() // three projections of one row
        def pairRow(name: String, sa: String, sb: String, sab: String,
            saa: String, sbb: String): DataFrame =
          st.select(lit(name).as("pair"), col("n"),
            col(sa).as("sa"), col(sb).as("sb"), col(sab).as("sab"),
            col(saa).as("saa"), col(sbb).as("sbb"))
        val f = pairRow("quantity~price", "sx", "sy", "sxy", "sxx", "syy")
          .unionAll(pairRow("quantity~discount", "sx", "sz", "sxz", "sxx",
            "szz"))
          .unionAll(pairRow("price~discount", "sy", "sz", "syz", "syy",
            "szz"))
        f.select(col("pair"), col("n"),
          ((col("n").cast("double") * col("sab").cast("double")
            - col("sa").cast("double") * col("sb").cast("double"))
            / nullif(sqrt(
              (col("n").cast("double") * col("saa").cast("double")
                - col("sa").cast("double") * col("sa").cast("double"))
              * (col("n").cast("double") * col("sbb").cast("double")
                - col("sb").cast("double") * col("sb").cast("double"))),
              lit(0.0))).as("corr"))
      }),

    // ---- higher moments: skewness + excess kurtosis ------------------------
    // Distribution-shape profile of quantity per return flag from the
    // first four POWER SUMS — exact associative longs (q ≤ 50 keeps
    // Σq⁴ ≤ 6.3e6·rows: int64 through ~1.4e12 rows; decimal past that),
    // collected in ONE partial+final pass. Central moments expand in IEEE
    // double with an IDENTICAL op sequence both engines (mean2 = mean·mean,
    // mean3 = mean2·mean, mean4 = mean2·mean2; m2^1.5 as m2·sqrt(m2) —
    // sqrt IS correctly rounded, pow() is NOT and never appears).
    QuerySpec(
      "q156_moments",
      Some("""WITH b AS (SELECT l_returnflag,
            CAST(round(l_quantity, 0) AS BIGINT) AS q FROM lineitem),
        st AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(q) AS BIGINT) AS s1,
            CAST(SUM(q * q) AS BIGINT) AS s2,
            CAST(SUM(q * q * q) AS BIGINT) AS s3,
            CAST(SUM(q * q * q * q) AS BIGINT) AS s4
          FROM b GROUP BY 1),
        m AS (SELECT l_returnflag, n, s1, s2, s3, s4,
            CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM st),
        mm AS (SELECT *, mean * mean AS mean2 FROM m),
        c AS (SELECT l_returnflag, n, s1, mean,
            CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mean2 AS m2,
            CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0 * (mean2 * mean) AS m3,
            CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0 * mean2 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0 * (mean2 * mean2) AS m4
          FROM mm)
        SELECT l_returnflag, n, mean,
          m2, m3 / NULLIF(m2 * sqrt(m2), 0.0) AS skewness,
          m4 / NULLIF(m2 * m2, 0.0) - 3.0 AS kurtosis_excess
        FROM c"""),
      (s, d) => {
        val st = t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr("cast(round(l_quantity, 0) as bigint)").as("q"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
            sum(col("q") * col("q")).as("s2"),
            sum(col("q") * col("q") * col("q")).as("s3"),
            sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
        val mean = col("s1").cast("double") / col("n").cast("double")
        val m = st.withColumn("mean", mean)
          .withColumn("mean2", col("mean") * col("mean"))
        val m2 = (col("s2").cast("double") / col("n").cast("double")
          - col("mean2"))
        val m3 = (col("s3").cast("double") / col("n").cast("double")
          - lit(3.0) * col("mean")
            * (col("s2").cast("double") / col("n").cast("double"))
          + lit(2.0) * (col("mean2") * col("mean")))
        val m4 = (col("s4").cast("double") / col("n").cast("double")
          - lit(4.0) * col("mean")
            * (col("s3").cast("double") / col("n").cast("double"))
          + lit(6.0) * col("mean2")
            * (col("s2").cast("double") / col("n").cast("double"))
          - lit(3.0) * (col("mean2") * col("mean2")))
        m.withColumn("m2", m2).withColumn("m3", m3).withColumn("m4", m4)
          .select(col("l_returnflag"), col("n"), col("mean"), col("m2"),
            (col("m3") / nullif(col("m2") * sqrt(col("m2")), lit(0.0)))
              .as("skewness"),
            (col("m4") / nullif(col("m2") * col("m2"), lit(0.0)) - lit(3.0))
              .as("kurtosis_excess"))
      }),

    // ---- two-sample Kolmogorov-Smirnov statistic ----------------------------
    // Distribution-shift audit between two cohorts (complements q138's
    // binned PSI with the exact sup-norm CDF distance). The cumulative
    // count is operators.BlockScan over distinct values — no data-sized
    // single-partition window at any scale. Counts are exact int64; each
    // CDF value is ONE int64->double convert + ONE divide; the sup is a
    // max over doubles (order-free). Inclusive cumulative = CDF at v.
    QuerySpec(
      "q162_ks_test",
      Some("""WITH t AS (SELECT
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
            CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        c AS (SELECT v, SUM(a) AS na, SUM(1 - a) AS nb FROM t GROUP BY 1),
        cum AS (SELECT v, SUM(na) OVER (ORDER BY v) AS ca,
            SUM(nb) OVER (ORDER BY v) AS cb FROM c),
        tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM c)
        SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
          MAX(ABS(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
            - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))) AS ks
        FROM cum, tot GROUP BY ta, tb"""),
      (s, d) => {
        val t0 = t(s, d, "orders")
          .join(t(s, d, "customer").select(col("c_custkey"),
            col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("v"),
            when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
              .as("a"))
        val c = t0.groupBy(col("v"))
          .agg(sum(col("a")).as("na"), sum(lit(1L) - col("a")).as("nb"))
          .cache() // feeds the running sums AND the totals
        val tot = c.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
        BlockScan.runningSums(c, floor(col("v").cast("double")
              / lit(AucBlock) / lit(100.0)).cast("long"),
            Seq(col("v")), Seq("ca" -> col("na"), "cb" -> col("nb")))
          .crossJoin(broadcast(tot)) // 1-row scalar totals
          .agg(max(col("ta")).cast("long").as("n_a"),
            max(col("tb")).cast("long").as("n_b"),
            max(abs(col("ca").cast("double") / col("ta").cast("double")
              - col("cb").cast("double") / col("tb").cast("double")))
              .as("ks"))
      }),

    // ---- Neyman optimal stratified allocation -------------------------------
    // Sampling-design operator: split a fixed budget across strata
    // proportionally to N_g * sigma_g (minimum-variance allocation for a
    // stratified mean). Sufficient statistics are exact int64 sums on the
    // integer quantity grid; sigma is one sqrt of an exact-integer
    // rational; the cross-stratum denominator goes through the
    // decimal-grid dsum (the q115 discipline) so the 3-term double sum
    // cannot drift with aggregation order. floor() for the final seat
    // count — unambiguous in both engines, unlike round-half ties.
    QuerySpec(
      "q165_neyman_alloc", {
        val sigma = "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) " +
          "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
        Some(s"""WITH b AS (SELECT l_returnflag AS g,
              CAST(round(l_quantity, 0) AS BIGINT) AS x FROM lineitem),
          st AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS BIGINT) AS sx,
              CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM b GROUP BY 1),
          tm AS (SELECT g, n, $sigma AS sigma,
              CAST(n AS DOUBLE) * $sigma AS term FROM st),
          dn AS (SELECT ${Exact.sqlDsum("term")} AS denom FROM tm)
          SELECT g, n, sigma,
            CAST(FLOOR(1000.0 * term / denom) AS BIGINT) AS alloc
          FROM tm, dn""")
      },
      (s, d) => {
        val st = t(s, d, "lineitem")
          .select(col("l_returnflag").as("g"),
            round(col("l_quantity"), 0).cast("long").as("x"))
          .groupBy(col("g")).agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        val sigma = sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double") / (col("n").cast("double") * col("n").cast("double")))
        val tm = st.withColumn("sigma", sigma)
          .withColumn("term", col("n").cast("double") * col("sigma"))
          .cache() // tiny (|strata| rows); feeds terms AND the denominator
        val dn = tm.agg(Exact.dsum(col("term")).as("denom"))
        tm.crossJoin(broadcast(dn)) // 1-row scalar denominator
          .select(col("g"), col("n"), col("sigma"),
            floor(lit(1000.0) * col("term") / col("denom")).cast("long")
              .as("alloc"))
      }),

    // ---- degree distribution (power-law audit) ------------------------------
    // The co-purchase graph's degree histogram in power-of-two buckets —
    // the standard scale-free shape check run before trusting any graph
    // algorithm's cost model on a corpus. Same support->=2 edge build as
    // q115/q135 (one distinct + one co-partitioned self-join); the
    // histogram is |nodes|-row work. Buckets are an explicit CASE ladder
    // (identical literal in both engines) — no runtime log2, whose
    // floor() could disagree across libm implementations at exact powers.
    QuerySpec(
      "q166_degree_hist", {
        val bucket = (c: String) => s"""CASE
            WHEN $c < 2 THEN '0001'
            WHEN $c < 4 THEN '0002-0003'
            WHEN $c < 8 THEN '0004-0007'
            WHEN $c < 16 THEN '0008-0015'
            WHEN $c < 32 THEN '0016-0031'
            WHEN $c < 64 THEN '0032-0063'
            WHEN $c < 128 THEN '0064-0127'
            ELSE '0128+' END"""
        Some(s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
              FROM lineitem),
            pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
              GROUP BY pa, pb HAVING COUNT(*) >= 2),
            e AS (SELECT pa AS src FROM pairs
              UNION ALL SELECT pb FROM pairs),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e
              GROUP BY 1)
          SELECT ${bucket("deg")} AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n_nodes,
            CAST(MIN(deg) AS BIGINT) AS min_deg,
            CAST(MAX(deg) AS BIGINT) AS max_deg
          FROM deg GROUP BY 1""")
      },
      (s, d) => {
        // pair build via the shared basket fan-out — see Baskets' header
        val pairs = Baskets
          .pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .filter(col("w") >= 2)
        val deg = pairs.select(col("pa").as("src"))
          .unionAll(pairs.select(col("pb").as("src")))
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val bucket = when(col("deg") < 2, "0001")
          .when(col("deg") < 4, "0002-0003")
          .when(col("deg") < 8, "0004-0007")
          .when(col("deg") < 16, "0008-0015")
          .when(col("deg") < 32, "0016-0031")
          .when(col("deg") < 64, "0032-0063")
          .when(col("deg") < 128, "0064-0127")
          .otherwise("0128+")
        deg.groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("deg")).cast("long").as("min_deg"),
            max(col("deg")).cast("long").as("max_deg"))
      }),

    // ---- two-proportion A/B z-test ------------------------------------------
    // The experiment readout: customers split 50/50 by the portable
    // md5 hash (deterministic, engine-identical — the q146 discipline),
    // conversion = "placed at least one big-ticket order". All aggregate
    // state is integer (group sizes, conversion counts — one semi-join-
    // shaped pre-aggregate per customer, one 2-group rollup, one 1-row
    // pivot); the z statistic is a fixed tree of correctly-rounded IEEE
    // ops (divides, one sqrt) on int64→double converts, so it hash-matches
    // bit-for-bit. The normal-CDF p-value is deliberately NOT published
    // (erf is libm-divergent across engines); |z| > 1.96 gives the 5%
    // two-sided decision without it.
    QuerySpec(
      "q182_ab_test",
      Some(s"""WITH g AS (SELECT c_custkey,
            ${Portable.h64Duck("'ab:' || CAST(c_custkey AS VARCHAR)")} % 2
              AS grp FROM customer),
        conv AS (SELECT o_custkey, 1 AS c FROM orders
          WHERE o_totalprice > $AbBigTicket GROUP BY o_custkey),
        j AS (SELECT grp, COALESCE(c, 0) AS c FROM g
          LEFT JOIN conv ON o_custkey = c_custkey),
        a AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(c) AS BIGINT) AS k FROM j GROUP BY grp),
        p AS (SELECT
            CAST(SUM(CASE WHEN grp = 0 THEN n ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN grp = 0 THEN k ELSE 0 END) AS BIGINT) AS ka,
            CAST(SUM(CASE WHEN grp = 1 THEN n ELSE 0 END) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN grp = 1 THEN k ELSE 0 END) AS BIGINT) AS kb
          FROM a)
        SELECT na, ka, nb, kb,
          CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) AS rate_a,
          CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS rate_b,
          ((CAST(ka AS DOUBLE) / CAST(na AS DOUBLE))
            - (CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)))
            / sqrt((CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 - (CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
              * ((1.0 / CAST(na AS DOUBLE)) + (1.0 / CAST(nb AS DOUBLE))))
            AS z,
          abs(((CAST(ka AS DOUBLE) / CAST(na AS DOUBLE))
            - (CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)))
            / sqrt((CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 - (CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
              * ((1.0 / CAST(na AS DOUBLE)) + (1.0 / CAST(nb AS DOUBLE)))))
            > 1.96 AS significant
        FROM p"""),
      (s, d) => {
        val g = t(s, d, "customer").select(col("c_custkey"),
          (expr(Portable.h64Spark(
            "concat('ab:', cast(c_custkey as string))")) % 2).as("grp"))
        val conv = t(s, d, "orders")
          .filter(col("o_totalprice") > AbBigTicket)
          .groupBy(col("o_custkey")).agg(lit(1).as("c"))
        val a = g.join(conv, col("o_custkey") === col("c_custkey"), "left")
          .select(col("grp"), coalesce(col("c"), lit(0)).as("c"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("c")).cast("long").as("k"))
        val p = a.agg(
          sum(when(col("grp") === 0, col("n")).otherwise(0L)).cast("long")
            .as("na"),
          sum(when(col("grp") === 0, col("k")).otherwise(0L)).cast("long")
            .as("ka"),
          sum(when(col("grp") === 1, col("n")).otherwise(0L)).cast("long")
            .as("nb"),
          sum(when(col("grp") === 1, col("k")).otherwise(0L)).cast("long")
            .as("kb"))
        val rateA = col("ka").cast("double") / col("na").cast("double")
        val rateB = col("kb").cast("double") / col("nb").cast("double")
        val pooled = (col("ka") + col("kb")).cast("double") /
          (col("na") + col("nb")).cast("double")
        val z = (rateA - rateB) /
          sqrt(pooled * (lit(1.0) - pooled) *
            ((lit(1.0) / col("na").cast("double"))
              + (lit(1.0) / col("nb").cast("double"))))
        p.select(col("na"), col("ka"), col("nb"), col("kb"),
          rateA.as("rate_a"), rateB.as("rate_b"), z.as("z"),
          (abs(z) > 1.96).as("significant"))
      }),

    // ---- Gini coefficient of revenue concentration --------------------------
    // "How concentrated is revenue across customers?" — the classic
    // Lorenz-curve summary G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with xᵢ
    // ascending. The global rank i is an operators.BlockScan running
    // count, NOT a single-task window: block the cents axis (g = cents
    // div 2^20, monotone in cents so block order is total order).
    // Σi·xᵢ accumulates on DECIMAL(38,0)/HUGEINT (i·x overflows int64 at
    // 1e9+ customers); scale-0 decimal→double is a single int→double
    // convert — correctly rounded in both engines (no fraction to
    // double-round, unlike scaled decimals), so the published gini is a
    // fixed IEEE tree on identical inputs.
    QuerySpec(
      "q183_gini",
      Some("""WITH r AS (SELECT o_custkey AS k,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        rk AS (SELECT k, cents,
            CAST(ROW_NUMBER() OVER (ORDER BY cents, k) AS BIGINT) AS i
          FROM r),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(cents) AS BIGINT) AS s0,
            SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS s1
          FROM rk)
        SELECT n, s0,
          ((2.0 * CAST(s1 AS DOUBLE))
            - ((CAST(n AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE)))
            / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) AS gini
        FROM s"""),
      (s, d) => {
        val blockBits = 20
        val r = t(s, d, "orders")
          .groupBy(col("o_custkey").as("k"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
          .cache() // feeds BlockScan's window AND its block totals
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val agg = BlockScan.runningSums(r,
            expr(s"cents div ${1L << blockBits}"),
            Seq(col("cents"), col("k")), Seq("i" -> lit(1L)))
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).cast("long").as("s0"),
            sum(col("i").cast(dec38) * col("cents")).cast(dec38).as("s1"))
        val nD = col("n").cast("double")
        val s0D = col("s0").cast("double")
        val gini = ((lit(2.0) * col("s1").cast("double"))
          - ((nD + lit(1.0)) * s0D)) / (nD * s0D)
        agg.select(col("n"), col("s0"), gini.as("gini"))
      }),

    // ---- CUSUM change-point detection ---------------------------------------
    // Page's cumulative-sum statistic over each event type's daily volume
    // series: S_t = Σ_{k<=t}(x_k − mean), the classic drift detector; the
    // change point is the day where |S_t| peaks. Everything stays on the
    // integer grid by scaling through the day count D: D·S_t =
    // D·cumsum(x)_t − t·total — exact longs (headroom: D ≤ days in the
    // time range, a constant; total ≤ corpus cents ~1e16 at the 100 TB
    // north star, D·total ~1e18 < 2^63 for month-scale windows — the
    // bound is documented, and wider ranges move to the decimal grid).
    // Distributed shape: one partial-agg shuffle to the (type, day) grain
    // — bounded by |types| × |days in range|, corpus-size independent —
    // then per-type windows over that bounded grain and a broadcast of
    // the |types|-row totals. The argmax tie-breaks to the EARLIEST day
    // on both engines (join on the max, take MIN(day)). Output is all
    // integers + a date: hash-exact with zero float ops.
    QuerySpec(
      "q195_cusum",
      Some("""WITH daily AS (SELECT event_type,
            CAST(ts AS DATE) AS day,
            CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS dd,
            CAST(SUM(x) AS BIGINT) AS tt FROM daily GROUP BY 1),
        c AS (SELECT daily.event_type, daily.day, tot.dd, tot.tt,
            CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
            CAST(SUM(x) OVER (PARTITION BY daily.event_type
              ORDER BY daily.day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cx
          FROM daily JOIN tot ON tot.event_type = daily.event_type
          WINDOW w AS (PARTITION BY daily.event_type ORDER BY daily.day)),
        dev AS (SELECT event_type, day, dd, tt,
            abs(dd * cx - t * tt) AS adev FROM c),
        mx AS (SELECT event_type, MAX(adev) AS m FROM dev GROUP BY 1)
        SELECT dev.event_type, MAX(dev.dd) AS n_days, MAX(dev.tt)
            AS total_cents,
          MAX(mx.m) AS max_abs_dev, MIN(dev.day) AS cp_day
        FROM dev JOIN mx ON mx.event_type = dev.event_type
          AND dev.adev = mx.m
        GROUP BY 1"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("x"))
        val tot = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("dd"), sum(col("x")).cast("long").as("tt"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val wf = w.rowsBetween(Window.unboundedPreceding, 0)
        val dev = daily.join(broadcast(tot), "event_type")
          .withColumn("t", row_number().over(w).cast("long"))
          .withColumn("cx", sum(col("x")).over(wf).cast("long"))
          .withColumn("adev",
            abs(col("dd") * col("cx") - col("t") * col("tt")))
        val mx = dev.groupBy(col("event_type")).agg(max(col("adev")).as("m"))
        dev.join(broadcast(mx),
            dev("event_type") === mx("event_type")
              && col("adev") === col("m"))
          .drop(mx("event_type"))
          .groupBy(col("event_type"))
          .agg(max(col("dd")).as("n_days"),
            max(col("tt")).as("total_cents"),
            max(col("m")).as("max_abs_dev"),
            min(col("day")).as("cp_day"))
      }),

    // ---- rolling correlation (trailing 7-day window) ------------------------
    // Does click volume track purchase volume, and does the coupling
    // drift? Pearson correlation over a trailing 7-row frame of the
    // daily (clicks, purchases) series, from windowed EXACT integer
    // sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² — the q136/q152
    // machinery put under a moving frame): the corpus collapses to the
    // day grain first (one partial-agg shuffle; grain bounded by the
    // time range), so the window slides over a bounded aggregate — the
    // GuardSpec empty-partition rule holds structurally. The final
    // r = (nΣxy−ΣxΣy)/√(nΣx²−(Σx)²)/√(nΣy²−(Σy)²) is four
    // single-rounded IEEE ops over identical exact longs on both
    // engines; degenerate frames (zero variance) are NULL via NULLIF.
    QuerySpec(
      "q202_rolling_corr",
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
            CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
              AS x,
            CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
              AS BIGINT) AS y
          FROM events GROUP BY 1),
        w AS (SELECT day, x, y,
            CAST(COUNT(*) OVER f AS BIGINT) AS n,
            CAST(SUM(x) OVER f AS BIGINT) AS sx,
            CAST(SUM(y) OVER f AS BIGINT) AS sy,
            CAST(SUM(x * y) OVER f AS BIGINT) AS sxy,
            CAST(SUM(x * x) OVER f AS BIGINT) AS sxx,
            CAST(SUM(y * y) OVER f AS BIGINT) AS syy
          FROM daily
          WINDOW f AS (ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        SELECT day, n, x, y,
          CAST(n * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
            / sqrt(CAST(NULLIF(n * syy - sy * sy, 0) AS DOUBLE))
            AS roll_corr
        FROM w"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(when(col("event_type") === "click", 1)).as("x"),
            count(when(col("event_type") === "purchase", 1)).as("y"))
        val f = Window.orderBy(col("day")).rowsBetween(-6, 0)
        daily
          .withColumn("n", count(lit(1)).over(f))
          .withColumn("sx", sum(col("x")).over(f).cast("long"))
          .withColumn("sy", sum(col("y")).over(f).cast("long"))
          .withColumn("sxy", sum(col("x") * col("y")).over(f).cast("long"))
          .withColumn("sxx", sum(col("x") * col("x")).over(f).cast("long"))
          .withColumn("syy", sum(col("y") * col("y")).over(f).cast("long"))
          .select(col("day"), col("n"), col("x"), col("y"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / sqrt(nullif(col("n") * col("sxx") - col("sx") * col("sx"),
                  lit(0L)).cast("double"))
              / sqrt(nullif(col("n") * col("syy") - col("sy") * col("sy"),
                  lit(0L)).cast("double")))
              .as("roll_corr"))
      }),

    // ---- seasonality strength (weekday variance decomposition) --------------
    // How much of the daily-volume variance is explained by the weekday?
    // The ANOVA R² = SSB/SST over the daily series grouped by weekday
    // (epoch-day arithmetic, the q173 dialect guard — the engines'
    // dayofweek() builtins disagree). Multiplying through by n turns
    // both sums of squares into exact-long-derived terms:
    //   n·SSB = n·Σ_w s_w²/n_w − s², n·SST = n·Σ x² − s²;
    // the only float reduction (Σ_w s_w²/n_w, 7 weekday terms) runs on
    // the Exact decimal grid so partition order can't perturb it. Day
    // grain first, then the 7-row weekday grain — both bounded.
    QuerySpec(
      "q203_seasonality",
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
            (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7
              AS dow,
            CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        wd AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS nw,
            CAST(SUM(x) AS BIGINT) AS sw FROM daily GROUP BY 1),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS s,
            ${Exact.sqlDsum("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")}
              AS q FROM daily),
        b AS (SELECT ${Exact.sqlDsum(
              "CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)")}
            AS t1, CAST(COUNT(*) AS BIGINT) AS n_weekdays FROM wd)
        SELECT g.n AS n_days, g.s AS total_cents, b.n_weekdays,
          (CAST(g.n AS DOUBLE) * b.t1
              - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE))
            / NULLIF(CAST(g.n AS DOUBLE) * g.q
              - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE), 0.0)
            AS seasonality
        FROM g, b"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"),
            ((datediff(col("ts").cast("date"), lit("1970-01-01"))
              .cast("long") + 4) % 7).as("dow"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("x"))
          .cache() // bounded day grain feeds the weekday and global sides
        val wd = daily.groupBy(col("dow"))
          .agg(count(lit(1)).as("nw"), sum(col("x")).cast("long").as("sw"))
        val g = daily.agg(count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("s"),
          Exact.dsum(col("x").cast("double") * col("x").cast("double"))
            .as("q"))
        val b = wd.agg(
          Exact.dsum(col("sw").cast("double") * col("sw").cast("double")
            / col("nw").cast("double")).as("t1"),
          count(lit(1)).as("n_weekdays"))
        g.crossJoin(broadcast(b))
          .select(col("n").as("n_days"), col("s").as("total_cents"),
            col("n_weekdays"),
            ((col("n").cast("double") * col("t1")
                - col("s").cast("double") * col("s").cast("double"))
              / nullif(col("n").cast("double") * col("q")
                - col("s").cast("double") * col("s").cast("double"),
                lit(0.0))).as("seasonality"))
      }),

    // ---- delete-one-block jackknife standard error --------------------------
    // A distributed-friendly uncertainty estimate for the corpus mean:
    // split rows into B fixed hash blocks (membership a pure function of
    // the row — the q146 gate discipline), compute each leave-one-
    // block-out mean from the EXACT block sums, and take the jackknife
    // variance (B−1)/B · Σ(θ_i − θ̄)². One partial-agg shuffle to the
    // 32-row block grain; everything after runs on that bounded table
    // (the θ reductions on the Exact grid, so order can't perturb them).
    // The estimate itself needs no second data pass — the block sums are
    // sufficient.
    QuerySpec(
      "q206_jackknife_se",
      Some(s"""WITH c AS (SELECT
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y,
            ${Portable.h64Duck("'jk:' || CAST(o_orderkey AS VARCHAR)")}
              % 32 AS b
          FROM orders),
        bl AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb,
            CAST(SUM(y) AS BIGINT) AS sb FROM c GROUP BY 1),
        g AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
            CAST(SUM(sb) AS BIGINT) AS s,
            CAST(COUNT(*) AS BIGINT) AS nblocks FROM bl),
        th AS (SELECT bl.b,
            CAST(g.s - bl.sb AS DOUBLE) / CAST(g.n - bl.nb AS DOUBLE)
              AS theta, g.n, g.s, g.nblocks
          FROM bl, g),
        tb AS (SELECT ${Exact.sqlDsum("theta")} / MAX(nblocks) AS tbar
          FROM th)
        SELECT MAX(th.n) AS n, MAX(th.s) AS total_cents,
          MAX(th.nblocks) AS n_blocks,
          CAST(MAX(th.s) AS DOUBLE) / CAST(MAX(th.n) AS DOUBLE) AS mean,
          (CAST(MAX(th.nblocks) - 1 AS DOUBLE)
              / CAST(MAX(th.nblocks) AS DOUBLE))
            * ${Exact.sqlDsum(
              "(theta - tbar) * (theta - tbar)")} AS jk_var
        FROM th, tb"""),
      (s, d) => {
        val c = t(s, d, "orders").select(
          round(col("o_totalprice") * 100, 0).cast("long").as("y"),
          (expr(Portable.h64Spark("concat('jk:', cast(o_orderkey as string))"))
            % 32).as("b"))
        val bl = c.groupBy(col("b")).agg(count(lit(1)).as("nb"),
          sum(col("y")).cast("long").as("sb"))
        val g = bl.agg(sum(col("nb")).cast("long").as("n"),
          sum(col("sb")).cast("long").as("s"),
          count(lit(1)).as("nblocks"))
        val th = bl.crossJoin(broadcast(g))
          .withColumn("theta", (col("s") - col("sb")).cast("double")
            / (col("n") - col("nb")).cast("double"))
        val tb = th.agg((Exact.dsum(col("theta")) / max(col("nblocks")))
          .as("tbar"))
        th.crossJoin(broadcast(tb))
          .agg(max(col("n")).as("n"), max(col("s")).as("total_cents"),
            max(col("nblocks")).as("n_blocks"),
            (max(col("s")).cast("double") / max(col("n")).cast("double"))
              .as("mean"),
            (((max(col("nblocks")) - 1).cast("double")
                / max(col("nblocks")).cast("double"))
              * Exact.dsum((col("theta") - col("tbar"))
                * (col("theta") - col("tbar")))).as("jk_var"))
      }),

    // ---- CUPED variance-reduced experiment readout --------------------------
    // The experimentation-platform upgrade over q182's raw A/B compare:
    // adjust the post-period metric with the pre-period covariate,
    // y_adj = y − θ(x − x̄), θ = cov(x,y)/var(x) pooled across arms —
    // the industry-standard CUPED estimator. Everything reduces to
    // arm-level EXACT integer sufficient statistics over the customer
    // grain (n, Σx, Σy pooled and per arm, plus pooled Σxy, Σx², Σy²),
    // so the adjusted means need NO second data pass:
    // mean_adj(arm) = ȳ_arm − θ(x̄_arm − x̄). Metrics ride the DOLLAR
    // grid (not cents) so the Σxy/Σx² SUMS stay inside int64 through
    // ~5e6 customers (documented bound; past that the cross moments
    // move to the decimal grid), and the moment COMBINATIONS
    // (n·Σxy − ΣxΣy etc., which overflow int64 at ~1e4 customers
    // already) run in double over the exact sums — the q136 deny
    // discipline. One customer-grain shuffle, two scalar broadcasts.
    QuerySpec(
      "q215_cuped",
      Some(s"""WITH arm AS (SELECT c_custkey,
            ${Portable.h64Duck("'ab:' || CAST(c_custkey AS VARCHAR)")} % 2
              AS grp FROM customer),
        pre AS (SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
              AS x
          FROM orders WHERE o_orderdate < DATE '1999-01-01'
          GROUP BY 1),
        post AS (SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders WHERE o_orderdate >= DATE '1999-01-01'
          GROUP BY 1),
        cu AS (SELECT arm.grp, COALESCE(pre.x, 0) AS x,
            COALESCE(post.y, 0) AS y
          FROM arm LEFT JOIN pre ON pre.o_custkey = arm.c_custkey
            LEFT JOIN post ON post.o_custkey = arm.c_custkey),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * y) AS BIGINT) AS sxy,
            CAST(SUM(x * x) AS BIGINT) AS sxx FROM cu),
        a AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS na,
            CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
          FROM cu GROUP BY 1),
        th AS (SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS theta,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar FROM g)
        SELECT a.grp, a.na, a.sxa, a.sya, th.theta,
          CAST(a.sya AS DOUBLE) / CAST(a.na AS DOUBLE) AS mean_raw,
          (CAST(a.sya AS DOUBLE) / CAST(a.na AS DOUBLE))
            - th.theta * ((CAST(a.sxa AS DOUBLE) / CAST(a.na AS DOUBLE))
              - th.xbar) AS mean_adj
        FROM a, th"""),
      (s, d) => {
        val arm = t(s, d, "customer").select(col("c_custkey"),
          (expr(Portable.h64Spark(
            "concat('ab:', cast(c_custkey as string))")) % 2).as("grp"))
        val cut = lit("1999-01-01").cast("date")
        val ord = t(s, d, "orders").select(col("o_custkey"),
          col("o_orderdate").cast("date").as("od"),
          round(col("o_totalprice"), 0).cast("long").as("dollars"))
        val pre = ord.filter(col("od") < cut).groupBy(col("o_custkey"))
          .agg(sum(col("dollars")).cast("long").as("x"))
        val post = ord.filter(col("od") >= cut).groupBy(col("o_custkey"))
          .agg(sum(col("dollars")).cast("long").as("y"))
        val cu = arm
          .join(pre, arm("c_custkey") === pre("o_custkey"), "left")
          .drop(pre("o_custkey"))
          .join(post, arm("c_custkey") === post("o_custkey"), "left")
          .drop(post("o_custkey"))
          .select(col("grp"), coalesce(col("x"), lit(0L)).as("x"),
            coalesce(col("y"), lit(0L)).as("y"))
          .cache() // customer grain feeds the pooled AND per-arm sums
        val g = cu.agg(count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"))
        // n·Σxy and n·Σx² overflow int64 past ~1e4 customers (dollar
        // totals ~1e6 each), so the moment COMBINATION runs in double
        // over the exact long sums — int64→double conversions then one
        // multiply/subtract each, identical single-rounded ops on
        // identical inputs in both engines (the q136 deny discipline)
        val th = g.select(
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / nullif(col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"),
              lit(0.0))).as("theta"),
          (col("sx").cast("double") / col("n").cast("double")).as("xbar"))
        val a = cu.groupBy(col("grp")).agg(count(lit(1)).as("na"),
          sum(col("x")).cast("long").as("sxa"),
          sum(col("y")).cast("long").as("sya"))
        a.crossJoin(broadcast(th))
          .select(col("grp"), col("na"), col("sxa"), col("sya"),
            col("theta"),
            (col("sya").cast("double") / col("na").cast("double"))
              .as("mean_raw"),
            ((col("sya").cast("double") / col("na").cast("double"))
              - col("theta")
                * ((col("sxa").cast("double") / col("na").cast("double"))
                  - col("xbar"))).as("mean_adj"))
      }),

    // ---- feature correlation matrix (single-pass sufficient stats) ---------
    // Pearson correlation matrix of the first 8 embedding dimensions —
    // the feature-redundancy screen run before training. ONE pass over
    // the vectors accumulates all sufficient statistics (8 sums + 36
    // pair products + n) as exact integers on the q45 quantized grid,
    // then each corr is two sqrts and one division in a pinned IEEE
    // order — the q136/q152 discipline widened to a matrix. Overflow
    // headroom: |q| <= ~400 on this fixture so n*s_ii <= n^2*1.6e5,
    // inside int64 to n ~ 7e6 vectors; past that the same stats shift
    // to mean-centered accumulation (q136's documented escalation).
    // 100 TB plan: a single partial-agg reduction to ONE row (36
    // products ride the same scan); the 36-row explode is driver-free
    // (`stack` over the aggregated row). No shuffle of vector data at
    // all beyond the one reduction.
    QuerySpec(
      "q222_corr_matrix",
      Some(s"""WITH q AS (SELECT ${Portable.qvecDuck("embedding", 64)} AS q
            FROM embeddings),
          p AS (SELECT a.i AS dim_i, b.i AS dim_j
            FROM (SELECT unnest(range(1, 9)) AS i) a,
                 (SELECT unnest(range(1, 9)) AS i) b
            WHERE a.i <= b.i),
          s AS (SELECT dim_i, dim_j, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(q[dim_i]) AS BIGINT) AS si,
              CAST(SUM(q[dim_j]) AS BIGINT) AS sj,
              CAST(SUM(q[dim_i] * q[dim_i]) AS BIGINT) AS sii,
              CAST(SUM(q[dim_j] * q[dim_j]) AS BIGINT) AS sjj,
              CAST(SUM(q[dim_i] * q[dim_j]) AS BIGINT) AS sij
            FROM p, q GROUP BY 1, 2)
          SELECT dim_i, dim_j, n,
            round(${Portable.cosDuck("n * sij - si * sj",
              "n * sii - si * si", "n * sjj - sj * sj")}, 4) AS corr
          FROM s"""),
      (s, d) => {
        val dims = 8
        val qv = t(s, d, "embeddings")
          .select(expr(Portable.qvecSpark("embedding")).as("q"))
        def el(i: Int) = element_at(col("q"), i)
        val sums = (1 to dims).map(i => sum(el(i)).cast("long").as(s"s$i"))
        val prods = for { i <- 1 to dims; j <- i to dims }
          yield sum(el(i) * el(j)).cast("long").as(s"p${i}_$j")
        val wide = qv.agg(count(lit(1)).as("n"), (sums ++ prods): _*)
        val corrs = for { i <- 1 to dims; j <- i to dims } yield {
          val num = (col("n") * col(s"p${i}_$j")
            - col(s"s$i") * col(s"s$j")).cast("double")
          def dev(k: Int) = sqrt((col("n") * col(s"p${k}_$k")
            - col(s"s$k") * col(s"s$k")).cast("double"))
          round(num / (dev(i) * dev(j)), 4).as(s"c${i}_$j")
        }
        val pairs = for { i <- 1 to dims; j <- i to dims }
          yield s"CAST($i AS BIGINT), CAST($j AS BIGINT), c${i}_$j"
        wide.select((col("n") +: corrs): _*)
          .selectExpr("n",
            s"stack(${pairs.size}, ${pairs.mkString(", ")})" +
              " as (dim_i, dim_j, corr)")
          .select(col("dim_i"), col("dim_j"), col("n"), col("corr"))
      }),

    // ---- degree assortativity (graph mixing pattern) -----------------------
    // Newman's degree assortativity over the co-purchase graph (same
    // support->=2 sparsified edge set as q135/q166): Pearson correlation
    // of endpoint degrees across the symmetrized edge list. Positive r =
    // hubs link hubs; the one-number summary of a catalog graph's mixing
    // structure. Sufficient stats are exact integer sums over the edge
    // list; the final r is the pinned-order IEEE expression.
    // 100 TB plan: the edge builder is the q112 co-partitioned self-join
    // (fan-out bounded by order width, support cap sparsifies); degrees
    // are one partial agg on the node grain; the deg-deg join hits the
    // NODE-grain table twice (shuffle joins — node tables are
    // catalog-sized, not broadcastable). Headroom: n*sxy <= 2|E| * deg^2
    // stays inside int64 while |E|*deg^2 < 4.6e18 (comfortable for any
    // support-sparsified catalog graph).
    QuerySpec(
      "q225_assortativity",
      Some(s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
          pr AS (SELECT a.p AS pa, b.p AS pb
            FROM io a JOIN io b ON a.o = b.o AND a.p < b.p),
          e AS (SELECT pa, pb FROM (SELECT pa, pb,
              COUNT(*) AS w FROM pr GROUP BY 1, 2) z
            WHERE w >= 2),
          dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
              SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e) z
            GROUP BY 1),
          de AS (SELECT da.deg AS du, db.deg AS dv
            FROM (SELECT pa AS u, pb AS v FROM e
              UNION ALL SELECT pb AS u, pa AS v FROM e) x
            JOIN dg da ON da.v = x.u
            JOIN dg db ON db.v = x.v),
          st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
              CAST(SUM(du * du) AS BIGINT) AS sxx,
              CAST(SUM(dv * dv) AS BIGINT) AS syy,
              CAST(SUM(du * dv) AS BIGINT) AS sxy
            FROM de)
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dg) AS n_nodes,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
            n AS n_endpoints,
            round(${Portable.cosDuck("n * sxy - sx * sy",
              "n * sxx - sx * sx", "n * syy - sy * sy")}, 4)
              AS assortativity
          FROM st"""),
      (s, d) => {
        // pair build via the shared basket fan-out — see Baskets' header
        val e = Baskets
          .pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .filter(col("w") >= 2)
          .select(col("pa"), col("pb"))
          .cache() // feeds dg, both de endpoints, and the edge count
        val dg = e.select(col("pa").as("v"))
          .unionAll(e.select(col("pb").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        val de = e.select(col("pa").as("u"), col("pb").as("v"))
          .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
          .join(dg.select(col("v").as("u"), col("deg").as("du")), Seq("u"))
          .join(dg.select(col("v"), col("deg").as("dv")), Seq("v"))
        val st = de.agg(count(lit(1)).as("n"),
          sum(col("du")).cast("long").as("sx"),
          sum(col("dv")).cast("long").as("sy"),
          sum(col("du") * col("du")).cast("long").as("sxx"),
          sum(col("dv") * col("dv")).cast("long").as("syy"),
          sum(col("du") * col("dv")).cast("long").as("sxy"))
        val nNodes = dg.agg(count(lit(1)).as("n_nodes"))
        val nEdges = e.agg(count(lit(1)).as("n_edges"))
        st.crossJoin(broadcast(nNodes)).crossJoin(broadcast(nEdges))
          .select(col("n_nodes"), col("n_edges"), col("n").as("n_endpoints"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                 .cast("double"))), 4).as("assortativity"))
      }),

    // ---- Neyman-optimal stratified allocation ------------------------------
    // Designing an evaluation holdout over a stratified corpus: with a
    // fixed labeling budget, Neyman allocation samples stratum h in
    // proportion to N_h * S_h (size times standard deviation) —
    // minimizing the estimator variance vs the naive proportional
    // N_h-only split. Strata are market segments over order totals in
    // exact cents; S_h comes from the exact int64 sufficient stats with
    // the centered products formed in DOUBLE (q327's overflow rule:
    // (sum x)^2 exceeds int64 at sf1; the double products are correctly
    // rounded identically in both engines). The weight enters allocation
    // as floor(N_h * S_h) — one BIGINT per stratum — so shares and
    // sample counts are pure integer division (q320's discipline).
    // Output also carries the proportional allocation for contrast.
    // 100 TB plan: one fact pass to |segments| sufficient-stat rows;
    // everything after is segment-grain with a 1-row denominator.
    QuerySpec(
      "q343_neyman_allocation",
      Some(s"""WITH f AS (SELECT c.c_mktsegment AS segment,
            CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        st AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(cents) AS BIGINT) AS sx,
            -- sum of squares exceeds int64 at sf1: exact 128-bit sum,
            -- converted once (correctly rounded) to double below
            CAST(SUM(cents * cents) AS HUGEINT) AS sxx
          FROM f GROUP BY 1),
        w AS (SELECT segment, n,
            CAST(floor(CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE)
                * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sx AS DOUBLE))) / CAST(n AS DOUBLE)) AS BIGINT)
              AS wq
          FROM st),
        tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS denom,
            CAST(SUM(n) AS BIGINT) AS ntot FROM w)
        SELECT segment, n AS n_orders, wq,
          CAST(($EvalBudget * wq) // denom AS BIGINT) AS alloc_neyman,
          CAST(($EvalBudget * n) // ntot AS BIGINT) AS alloc_proportional
        FROM w, tot"""),
      (s, d) => {
        val f = t(s, d, "orders")
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val w = f.groupBy(col("segment"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
            // sum of squares exceeds int64 at sf1: exact decimal(38,0)
            // sum, converted once (correctly rounded) to double below
            sum((col("cents") * col("cents"))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
              .as("sxx"))
          // centered product in double (q327 rule); sd = sqrt(n*sxx-sx^2)/n,
          // weight enters as floor(n * sd) — one BIGINT per stratum
          .select(col("segment"), col("n"),
            floor(col("n").cast("double")
              * sqrt(col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              / col("n").cast("double")).cast("long").as("wq"))
          .cache() // |segments| rows; feeds the denominator and output
        val tot = w.agg(sum(col("wq")).as("denom"), sum(col("n")).as("ntot"))
        w.crossJoin(broadcast(tot)) // 1-row denominators
          .select(col("segment"), col("n").as("n_orders"), col("wq"),
            expr(s"($EvalBudget * wq) div denom").as("alloc_neyman"),
            expr(s"($EvalBudget * n) div ntot").as("alloc_proportional"))
      })
  )
}
