package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.operators.BlockScan
import graft.functions.Portable.{toksSpark, toksDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Profiling / engagement / decomposition operators: window co-occurrence
  * mining (word2vec-style skip-grams), foreign-key inclusion auditing,
  * rolling distinct engagement (WAU), period-over-period mix/rate
  * decomposition, and candidate-key uniqueness profiling.
  *
  * House determinism rules throughout: exact integer counts, decimal-grid
  * double sums, pinned IEEE expression trees, total-order tie-breaks on
  * every top-k.
  */
object Insights {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Skip-gram window radius (positions 1..W to the right). */
  private val SkipWindow = 3

  val all: Seq[QuerySpec] = Seq(

    // ---- skip-gram co-occurrence mining ------------------------------------
    // The corpus statistic word2vec/GloVe training consumes: unordered
    // word pairs within a +-3 position window, counted corpus-wide —
    // q149's adjacent bigrams are the W=1 special case. The pair
    // explode is ROW-LOCAL (fan-out = W per position); one (pair)
    // partial-agg shuffle bounded by vocabulary^2 with the observed
    // long-tail far smaller; top-20 is TakeOrdered with the pair string
    // as tie-break. Pair canonicalization via least/greatest keeps the
    // count symmetric without a second pass.
    QuerySpec(
      "q256_skipgram_cooc",
      Some(s"""WITH sp AS (SELECT ${toksDuck("text")} AS ws FROM documents),
        z AS (SELECT ws, j, unnest([1, 2, 3]) AS k FROM
          (SELECT ws, unnest(range(1, len(ws) + 1)) AS j FROM sp) y),
        p AS (SELECT least(ws[j], ws[j + k]) || ' '
            || greatest(ws[j], ws[j + k]) AS pair
          FROM z WHERE j + k <= len(ws)
            AND ws[j] <> '' AND ws[j + k] <> ''),
        c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM p GROUP BY 1)
        SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20"""),
      (s, d) => {
        val sp = t(s, d, "documents")
          .select(expr(toksSpark("text")).as("ws"))
        val z = sp
          .select(col("ws"), explode(expr("sequence(1, size(ws))")).as("j"))
          .select(col("ws"), col("j"),
            explode(lit((1 to SkipWindow).toArray)).as("k"))
          .filter(col("j") + col("k") <= size(col("ws")))
        val p = z
          .select(expr("element_at(ws, j)").as("a"),
            expr("element_at(ws, j + k)").as("b"))
          .filter(col("a") =!= "" && col("b") =!= "")
          .select(concat(least(col("a"), col("b")), lit(" "),
            greatest(col("a"), col("b"))).as("pair"))
        p.groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(20)
      }),

    // ---- foreign-key inclusion audit ---------------------------------------
    // Referential-integrity profiling across the star schema: for each
    // declared (plus one negative-control) child->parent pair, the
    // distinct child key count, the orphan count (child values with no
    // parent), and the containment fraction — the inclusion-dependency
    // check FK discovery tools run before trusting any join. Each pair
    // is a distinct + anti-join on the key (the q58 ledger shape); all
    // five pairs union into one report. 100 TB plan: per pair, one
    // child-key distinct shuffle and one key-equi anti-join — nothing
    // broadcast except nothing; parents stream through the join.
    QuerySpec(
      "q257_fk_audit", {
        def pair(nm: String, child: String, ck: String, parent: String,
            pk: String): String =
          s"""SELECT '$nm' AS fk, CAST(COUNT(*) AS BIGINT) AS n_child_keys,
            CAST(COUNT(CASE WHEN p.$pk IS NULL THEN 1 END) AS BIGINT)
              AS n_orphans,
            round(1.0 - CAST(COUNT(CASE WHEN p.$pk IS NULL THEN 1 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS containment
          FROM (SELECT DISTINCT $ck FROM $child) c
          LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$ck = p.$pk"""
        Some(Seq(
          pair("lineitem.orderkey->orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          pair("lineitem.partkey->part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          pair("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          pair("orders.custkey->customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          pair("part.partkey->supplier (negative control)", "part",
            "p_partkey", "supplier", "s_suppkey")).mkString(" UNION ALL "))
      },
      (s, d) => {
        def pair(nm: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
          val c = child.select(col(ck)).distinct()
          val j = c.join(parent.select(col(pk)).distinct(),
            col(ck) === col(pk), "left")
          j.agg(count(lit(1)).as("n_child_keys"),
            count(when(col(pk).isNull, 1)).as("n_orphans"))
            .select(lit(nm).as("fk"), col("n_child_keys"), col("n_orphans"),
              round(lit(1.0) - col("n_orphans").cast("double")
                / col("n_child_keys").cast("double"), 6).as("containment"))
        }
        val li = t(s, d, "lineitem")
        pair("lineitem.orderkey->orders", li, "l_orderkey",
          t(s, d, "orders"), "o_orderkey")
          .unionByName(pair("lineitem.partkey->part", li, "l_partkey",
            t(s, d, "part"), "p_partkey"))
          .unionByName(pair("lineitem.suppkey->supplier", li, "l_suppkey",
            t(s, d, "supplier"), "s_suppkey"))
          .unionByName(pair("orders.custkey->customer", t(s, d, "orders"),
            "o_custkey", t(s, d, "customer"), "c_custkey"))
          .unionByName(pair("part.partkey->supplier (negative control)",
            t(s, d, "part"), "p_partkey", t(s, d, "supplier"), "s_suppkey"))
      }),

    // ---- rolling weekly active users (WAU) ---------------------------------
    // Distinct users in each trailing 7-day window — the engagement
    // denominator behind DAU/WAU stickiness. Distinct-over-sliding-
    // window does NOT partial-aggregate, so the scale shape is the
    // window EXPLODE: each (user, active-day) pair posts to the 7
    // windows it falls in, then one distinct + count per window day —
    // fan-out exactly 7, every stage keyed. Published per observed day
    // with DAU and the stickiness ratio.
    QuerySpec(
      "q258_rolling_wau",
      Some("""WITH ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
        ex AS (SELECT DISTINCT user_id, day + CAST(k AS INTEGER) AS w
          FROM ad, (SELECT unnest(range(0, 7)) AS k) ks),
        cnt AS (SELECT w AS day, CAST(COUNT(*) AS BIGINT) AS wau
          FROM ex GROUP BY 1),
        dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
          FROM ad GROUP BY 1)
        SELECT d.day, d.dau, c.wau,
          round(CAST(d.dau AS DOUBLE) / CAST(c.wau AS DOUBLE), 4)
            AS stickiness
        FROM dau d JOIN cnt c ON d.day = c.day"""),
      (s, d) => {
        import s.implicits._
        val ad = t(s, d, "events")
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
          .cache() // (user, day) grain; feeds the explode AND the DAU agg
        val ks = (0 until 7).toDF("k")
        val ex = ad.crossJoin(broadcast(ks))
          .select(col("user_id"), date_add(col("day"), col("k")).as("w"))
          .distinct()
        val cnt = ex.groupBy(col("w").as("day"))
          .agg(count(lit(1)).as("wau"))
        val dau = ad.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        dau.join(cnt, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            round(col("dau").cast("double") / col("wau").cast("double"), 4)
              .as("stickiness"))
      }),

    // ---- mix/rate decomposition (Oaxaca-style) -----------------------------
    // WHY did average order value move between the two halves of the
    // window: per market segment, the contribution of segment-mix shift
    // ((share1 - share0) * rate0) vs within-segment rate change
    // (share1 * (rate1 - rate0)) — summing both columns reproduces the
    // overall delta exactly (the standard first-order decomposition,
    // base-period rates convention). Counts are exact int64, revenue
    // sums decimal-grid; shares and rates are pinned divides. 100 TB
    // plan: one (segment, period) fact aggregate, then bounded-grain
    // arithmetic with 1-row period totals broadcast.
    QuerySpec(
      "q259_mix_decomposition",
      Some(s"""WITH f AS (SELECT c.c_mktsegment AS seg,
            CASE WHEN o.o_orderdate < TIMESTAMP '1998-07-01' THEN 0
              ELSE 1 END AS per,
            o.o_totalprice AS v
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        g AS (SELECT seg, per, CAST(COUNT(*) AS BIGINT) AS n,
            ${Exact.sqlDsum("v")} AS sv
          FROM f GROUP BY 1, 2),
        w AS (SELECT seg,
            CAST(SUM(CASE WHEN per = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN per = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
            ${Exact.sqlDsum("CASE WHEN per = 0 THEN sv END")} AS s0,
            ${Exact.sqlDsum("CASE WHEN per = 1 THEN sv END")} AS s1
          FROM g GROUP BY 1),
        tt AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0,
            CAST(SUM(n1) AS BIGINT) AS t1 FROM w),
        m AS (SELECT seg, n0, n1,
            CAST(n0 AS DOUBLE) / CAST(t0 AS DOUBLE) AS sh0,
            CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS sh1,
            s0 / CAST(n0 AS DOUBLE) AS r0,
            s1 / CAST(n1 AS DOUBLE) AS r1
          FROM w, tt)
        SELECT seg, n0, n1, round(sh0, 6) AS share_pre,
          round(sh1, 6) AS share_post, round(r0, 4) AS rate_pre,
          round(r1, 4) AS rate_post,
          round((sh1 - sh0) * r0, 4) AS mix_effect,
          round(sh1 * (r1 - r0), 4) AS rate_effect
        FROM m"""),
      (s, d) => {
        val f = t(s, d, "orders")
          .join(t(s, d, "customer").select(col("c_custkey"),
            col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            when(col("o_orderdate") < lit("1998-07-01").cast("timestamp"),
              0L).otherwise(1L).as("per"),
            col("o_totalprice").as("v"))
        val g = f.groupBy(col("seg"), col("per"))
          .agg(count(lit(1)).as("n"), Exact.dsum(col("v")).as("sv"))
        val w = g.groupBy(col("seg"))
          .agg(sum(when(col("per") === 0, col("n")).otherwise(0L)).as("n0"),
            sum(when(col("per") === 1, col("n")).otherwise(0L)).as("n1"),
            Exact.dsum(when(col("per") === 0, col("sv"))).as("s0"),
            Exact.dsum(when(col("per") === 1, col("sv"))).as("s1"))
          .cache() // bounded |segments| grain; feeds totals too
        val tt = w.agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"))
        val m = w.crossJoin(broadcast(tt)) // 1-row period totals
          .select(col("seg"), col("n0"), col("n1"),
            (col("n0").cast("double") / col("t0").cast("double")).as("sh0"),
            (col("n1").cast("double") / col("t1").cast("double")).as("sh1"),
            (col("s0") / col("n0").cast("double")).as("r0"),
            (col("s1") / col("n1").cast("double")).as("r1"))
        m.select(col("seg"), col("n0"), col("n1"),
          round(col("sh0"), 6).as("share_pre"),
          round(col("sh1"), 6).as("share_post"),
          round(col("r0"), 4).as("rate_pre"),
          round(col("r1"), 4).as("rate_post"),
          round((col("sh1") - col("sh0")) * col("r0"), 4).as("mix_effect"),
          round(col("sh1") * (col("r1") - col("r0")), 4).as("rate_effect"))
      }),

    // ---- candidate-key uniqueness profile ----------------------------------
    // Which column (combinations) could serve as a key: distinct-to-row
    // ratio per candidate over orders — the uniqueness profile a schema-
    // discovery pass computes before declaring constraints. Each
    // candidate is one COUNT(DISTINCT ...) against the shared row count;
    // the dedup shuffles key on the candidate itself. Exact int64
    // counts; the ratio is one divide.
    QuerySpec(
      "q260_key_profile", {
        def cand(nm: String, e: String): String =
          s"""SELECT '$nm' AS candidate,
            CAST(COUNT(DISTINCT $e) AS BIGINT) AS n_distinct,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            round(CAST(COUNT(DISTINCT $e) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS uniqueness,
            (COUNT(DISTINCT $e) = COUNT(*)) AS is_key
          FROM orders"""
        Some(Seq(
          cand("o_orderkey", "o_orderkey"),
          cand("o_custkey", "o_custkey"),
          cand("o_orderdate", "o_orderdate"),
          cand("o_custkey+o_orderdate", "(o_custkey, o_orderdate)"))
          .mkString(" UNION ALL "))
      },
      (s, d) => {
        val o = t(s, d, "orders").cache() // four profile passes, one scan
        def cand(nm: String, cols: Seq[String]): DataFrame =
          o.agg(countDistinct(col(cols.head),
            cols.tail.map(col): _*).as("n_distinct"),
            count(lit(1)).as("n_rows"))
            .select(lit(nm).as("candidate"), col("n_distinct"),
              col("n_rows"),
              round(col("n_distinct").cast("double")
                / col("n_rows").cast("double"), 6).as("uniqueness"),
              (col("n_distinct") === col("n_rows")).as("is_key"))
        cand("o_orderkey", Seq("o_orderkey"))
          .unionByName(cand("o_custkey", Seq("o_custkey")))
          .unionByName(cand("o_orderdate", Seq("o_orderdate")))
          .unionByName(cand("o_custkey+o_orderdate",
            Seq("o_custkey", "o_orderdate")))
      }),

    // ---- accounts-receivable aging (open-order buckets) --------------------
    // The finance close report: orders still unshipped at the cutoff,
    // bucketed by how long they have been open (0-30/31-60/61-90/90+
    // days), with order counts and open value on the exact cents grid.
    // One order-key join (final ship date per order), a row-local age
    // bucket CASE, one bounded aggregate.
    QuerySpec(
      "q262_ar_aging",
      Some("""WITH ship AS (SELECT l_orderkey,
            MAX(CAST(l_shipdate AS DATE)) AS ship
          FROM lineitem GROUP BY 1),
        open_o AS (SELECT CAST(o.o_orderdate AS DATE) AS od,
            CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
          WHERE CAST(o.o_orderdate AS DATE) <= DATE '2001-03-01'
            AND s.ship > DATE '2001-03-01'),
        ag AS (SELECT datediff('day', od, DATE '2001-03-01') AS age, cents
          FROM open_o)
        SELECT CASE WHEN age <= 30 THEN '0-30' WHEN age <= 60 THEN '31-60'
            WHEN age <= 90 THEN '61-90' ELSE '90+' END AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(cents) AS BIGINT) AS open_cents
        FROM ag GROUP BY 1"""),
      (s, d) => {
        val cutoff = lit("2001-03-01").cast("date")
        val ship = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(max(col("l_shipdate").cast("date")).as("ship"))
        val openO = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          .filter(col("od") <= cutoff)
          .join(ship, col("o_orderkey") === col("l_orderkey"))
          .filter(col("ship") > cutoff)
        openO.select(datediff(cutoff, col("od")).as("age"), col("cents"))
          .select(when(col("age") <= 30, "0-30")
            .when(col("age") <= 60, "31-60")
            .when(col("age") <= 90, "61-90")
            .otherwise("90+").as("bucket"), col("cents"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).cast("long").as("open_cents"))
      }),

    // ---- compressibility profile (distinct 4-gram rate) --------------------
    // A compression-ratio proxy per document — the LZ-style redundancy
    // signal quality filters use alongside q57's repetition gates: the
    // fraction of DISTINCT character 4-grams among all 4-grams, fully
    // ROW-LOCAL via an array comprehension + distinct (no shuffle until
    // the per-source rollup). Low ratio = highly repetitive text. The
    // per-source average rides the decimal grid; min/max are order-free.
    QuerySpec(
      "q263_compressibility", {
        val u4 = "len(list_distinct([substr(text, i, 4) " +
          "for i in range(1, length(text) - 2)]))"
        Some(s"""WITH r AS (SELECT source,
            CAST($u4 AS DOUBLE)
              / CAST(length(text) - 3 AS DOUBLE) AS ratio
          FROM documents WHERE length(text) >= 4)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            round(${Exact.sqlDsum("ratio")} / COUNT(*), 6) AS avg_ratio,
            round(MIN(ratio), 4) AS min_ratio,
            round(MAX(ratio), 4) AS max_ratio
          FROM r GROUP BY 1""")
      },
      (s, d) => {
        val u4 = "size(array_distinct(transform(" +
          "sequence(1, length(text) - 3), i -> substring(text, i, 4))))"
        val r = t(s, d, "documents")
          .filter(length(col("text")) >= 4)
          .select(col("source"),
            (expr(u4).cast("double")
              / (length(col("text")) - 3).cast("double")).as("ratio"))
        r.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(Exact.dsum(col("ratio")) / count(lit(1)), 6)
              .as("avg_ratio"),
            round(min(col("ratio")), 4).as("min_ratio"),
            round(max(col("ratio")), 4).as("max_ratio"))
      }),

    // ---- customer percentile rank (block-decomposed cume_dist) -------------
    // Every customer's revenue percentile — the score a lifecycle/
    // segmentation system attaches to each account. cume_dist over a
    // customer-grain frame is the classic data-sized global window; here the
    // rank is an operators.BlockScan running count on the cents-value grain,
    // joined back on the value — no single-task window at any scale. The
    // oracle mirrors the SAME explicit arithmetic (inclusive count / n), not
    // the engine's cume_dist builtin, so both sides share one divide tree.
    QuerySpec(
      "q264_percentile_rank",
      Some("""WITH cust AS (SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        h AS (SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM cust GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
        cum AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS le
          FROM h)
        SELECT c.o_custkey, c.cents,
          round(CAST(cum.le AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
            AS pct_rank
        FROM cust c JOIN cum ON c.cents = cum.v, tot"""),
      (s, d) => {
        val cust = t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
          .cache() // customer grain; feeds the histogram AND the join back
        val h = cust.groupBy(col("cents").as("v"))
          .agg(count(lit(1)).as("cnt"))
          .cache()
        val tot = h.agg(sum(col("cnt")).as("n"))
        val cum = BlockScan.runningSums(h, expr(s"v div ${1L << 16}"),
            Seq(col("v")), Seq("le" -> col("cnt")))
          .select(col("v"), col("le"))
        cust.join(cum, col("cents") === col("v"))
          .crossJoin(broadcast(tot)) // 1-row count
          .select(col("o_custkey"), col("cents"),
            round(col("le").cast("double") / col("n").cast("double"), 6)
              .as("pct_rank"))
      }),

    // ---- Kneser-Ney continuation counts ------------------------------------
    // The statistic KN smoothing is built on: for each word, how many
    // DISTINCT left contexts precede it (continuation count) vs its raw
    // bigram frequency — words with high raw count but few contexts
    // ("francisco") get discounted. Bigram extraction is row-local; the
    // continuation count is one distinct + count per word; top-20 by
    // continuation with the word as tie-break.
    QuerySpec(
      "q265_kn_counts",
      Some(s"""WITH sp AS (SELECT ${toksDuck("text")} AS ws FROM documents),
        bg AS (SELECT ws[j] AS prev, ws[j + 1] AS w FROM
          (SELECT ws, unnest(range(1, len(ws))) AS j FROM sp) z
          WHERE ws[j] <> '' AND ws[j + 1] <> ''),
        cc AS (SELECT w, CAST(COUNT(DISTINCT prev) AS BIGINT)
            AS continuation,
            CAST(COUNT(*) AS BIGINT) AS raw_cnt
          FROM bg GROUP BY 1)
        SELECT w AS word, continuation, raw_cnt
        FROM cc ORDER BY continuation DESC, w LIMIT 20"""),
      (s, d) => {
        val sp = t(s, d, "documents")
          .select(expr(toksSpark("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
        val bg = sp
          .select(col("ws"), explode(expr("sequence(1, size(ws) - 1)"))
            .as("j"))
          .select(expr("element_at(ws, j)").as("prev"),
            expr("element_at(ws, j + 1)").as("w"))
          .filter(col("prev") =!= "" && col("w") =!= "")
        bg.groupBy(col("w"))
          .agg(countDistinct(col("prev")).as("continuation"),
            count(lit(1)).as("raw_cnt"))
          .orderBy(col("continuation").desc, col("w")).limit(20)
          .select(col("w").as("word"), col("continuation"), col("raw_cnt"))
      }),

    // ---- Simpson's paradox detector ----------------------------------------
    // Flags segments whose period-over-period rate change CONTRADICTS
    // the pooled change — the aggregation trap q259's decomposition
    // explains and this audit surfaces automatically. Per-segment and
    // pooled rates come from the same (segment, period) exact
    // sufficient statistics; the flag is a sign comparison of two
    // pinned deltas. 100 TB plan: one fact aggregate to the bounded
    // (segment, period) grain; pooled totals broadcast.
    QuerySpec(
      "q266_simpson_flags",
      Some(s"""WITH f AS (SELECT c.c_mktsegment AS seg,
            CASE WHEN o.o_orderdate < TIMESTAMP '1998-07-01' THEN 0
              ELSE 1 END AS per,
            o.o_totalprice AS v
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        g AS (SELECT seg, per, CAST(COUNT(*) AS BIGINT) AS n,
            ${Exact.sqlDsum("v")} AS sv
          FROM f GROUP BY 1, 2),
        w AS (SELECT seg,
            CAST(SUM(CASE WHEN per = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN per = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
            ${Exact.sqlDsum("CASE WHEN per = 0 THEN sv END")} AS s0,
            ${Exact.sqlDsum("CASE WHEN per = 1 THEN sv END")} AS s1
          FROM g GROUP BY 1),
        tt AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0,
            CAST(SUM(n1) AS BIGINT) AS t1,
            ${Exact.sqlDsum("s0")} AS g0, ${Exact.sqlDsum("s1")} AS g1
          FROM w),
        m AS (SELECT seg,
            s1 / CAST(n1 AS DOUBLE) - s0 / CAST(n0 AS DOUBLE) AS ds,
            g1 / CAST(t1 AS DOUBLE) - g0 / CAST(t0 AS DOUBLE) AS dp
          FROM w, tt)
        SELECT seg, round(ds, 4) AS segment_delta,
          round(dp, 4) AS pooled_delta,
          ((ds > 0 AND dp < 0) OR (ds < 0 AND dp > 0)) AS simpson
        FROM m"""),
      (s, d) => {
        val f = t(s, d, "orders")
          .join(t(s, d, "customer").select(col("c_custkey"),
            col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            when(col("o_orderdate") < lit("1998-07-01").cast("timestamp"),
              0L).otherwise(1L).as("per"),
            col("o_totalprice").as("v"))
        val g = f.groupBy(col("seg"), col("per"))
          .agg(count(lit(1)).as("n"), Exact.dsum(col("v")).as("sv"))
        val w = g.groupBy(col("seg"))
          .agg(sum(when(col("per") === 0, col("n")).otherwise(0L)).as("n0"),
            sum(when(col("per") === 1, col("n")).otherwise(0L)).as("n1"),
            Exact.dsum(when(col("per") === 0, col("sv"))).as("s0"),
            Exact.dsum(when(col("per") === 1, col("sv"))).as("s1"))
          .cache() // bounded |segments| grain
        val tt = w.agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"),
          Exact.dsum(col("s0")).as("g0"), Exact.dsum(col("s1")).as("g1"))
        val m = w.crossJoin(broadcast(tt)) // 1-row pooled totals
          .select(col("seg"),
            (col("s1") / col("n1").cast("double")
              - col("s0") / col("n0").cast("double")).as("ds"),
            (col("g1") / col("t1").cast("double")
              - col("g0") / col("t0").cast("double")).as("dp"))
        m.select(col("seg"), round(col("ds"), 4).as("segment_delta"),
          round(col("dp"), 4).as("pooled_delta"),
          ((col("ds") > 0 && col("dp") < 0)
            || (col("ds") < 0 && col("dp") > 0)).as("simpson"))
      }),

    // ---- Lorenz curve (cumulative revenue concentration) -------------------
    // The curve behind q183's Gini number: customers ranked by revenue,
    // cut into deciles, each reporting its cumulative share of total
    // revenue — "the top 10% hold X%" chart. Decile assignment uses the
    // operators.BlockScan inclusive rank (no data-sized window); shares are
    // exact-cents ratios; the 10-row cumulative is group-grain. Ties share a
    // rank and therefore a decile, so the cut is deterministic without a
    // row_number.
    QuerySpec(
      "q269_lorenz_curve",
      Some("""WITH cust AS (SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        h AS (SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS cnt,
            CAST(SUM(cents) AS BIGINT) AS vsum FROM cust GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
            CAST(SUM(vsum) AS BIGINT) AS tc FROM h),
        cum AS (SELECT v, cnt, vsum,
            CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS le FROM h),
        dec AS (SELECT (10 * (le - 1)) // n AS decile, cnt, vsum
          FROM cum, tot),
        g AS (SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_cust,
            CAST(SUM(vsum) AS BIGINT) AS cents FROM dec GROUP BY 1)
        SELECT decile, n_cust, cents,
          round(CAST(CAST(SUM(cents) OVER (ORDER BY decile) AS BIGINT)
            AS DOUBLE) / CAST(tot.tc AS DOUBLE), 6) AS cum_share
        FROM g, tot"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cust = t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val h = cust.groupBy(col("cents").as("v"))
          .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("vsum"))
          .cache()
        val tot = h.agg(sum(col("cnt")).as("n"), sum(col("vsum")).as("tc"))
        val dec = BlockScan.runningSums(h, expr(s"v div ${1L << 16}"),
            Seq(col("v")), Seq("le" -> col("cnt")))
          .crossJoin(broadcast(tot)) // 1-row totals
          .select(expr("(10 * (le - 1)) div n").as("decile"),
            col("cnt"), col("vsum"))
        val gdf = dec.groupBy(col("decile"))
          .agg(sum(col("cnt")).as("n_cust"), sum(col("vsum")).as("cents"))
        gdf.crossJoin(broadcast(tot))
          .withColumn("cum", sum(col("cents")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("decile"), col("n_cust"), col("cents"),
            round(col("cum").cast("double") / col("tc").cast("double"), 6)
              .as("cum_share"))
      }),

    // ---- per-user feature-store assembly -----------------------------------
    // The materialization step before any churn/LTV model: one wide
    // feature row per user — activity counts, span, recency against the
    // corpus horizon, monetary sums on the decimal grid, purchase rate,
    // and a pre/post activity trend on the same epoch-ms split as q254.
    // value_avg publishes through floor(x*1e4)/1e4, NOT round(x,4): the
    // quotient of a 1e-4-grid total by an integer lands on exact decimal
    // ties, where Spark's BigDecimal HALF_UP and DuckDB's multiply-based
    // double rounding disagree by 1 ulp (observed at sf0.1) — floor of
    // the identical IEEE product is bit-stable in both engines.
    // Everything reduces in ONE user-keyed conditional aggregate plus a
    // broadcast corpus-horizon scalar — the shape a feature store runs
    // nightly over billions of users.
    QuerySpec(
      "q270_feature_store",
      Some(s"""WITH horizon AS (SELECT MAX(CAST(ts AS DATE)) AS maxd
            FROM events),
        u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS n_purchases,
            CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active,
            MIN(CAST(ts AS DATE)) AS first_day,
            MAX(CAST(ts AS DATE)) AS last_day,
            ${Exact.sqlDsum("value")} AS value_sum,
            CAST(COUNT(CASE WHEN epoch_ms(ts) >= 1705363200000 THEN 1 END)
              AS BIGINT) AS n_post,
            CAST(COUNT(CASE WHEN epoch_ms(ts) < 1705363200000 THEN 1 END)
              AS BIGINT) AS n_pre
          FROM events GROUP BY 1)
        SELECT user_id, n_events, n_purchases, days_active,
          CAST(datediff('day', first_day, last_day) AS BIGINT) AS span_days,
          CAST(datediff('day', last_day, maxd) AS BIGINT) AS recency_days,
          round(value_sum, 4) AS value_sum,
          floor(value_sum / CAST(n_events AS DOUBLE) * 10000.0) / 10000.0
            AS value_avg,
          round(CAST(n_purchases AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
            AS purchase_rate,
          n_post - n_pre AS activity_trend
        FROM u, horizon"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val horizon = ev.agg(max(col("ts").cast("date")).as("maxd"))
        val post = expr("unix_millis(cast(ts as timestamp))") >=
          1705363200000L
        val u = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            count(when(col("event_type") === "purchase", 1))
              .as("n_purchases"),
            countDistinct(col("ts").cast("date")).as("days_active"),
            min(col("ts").cast("date")).as("first_day"),
            max(col("ts").cast("date")).as("last_day"),
            Exact.dsum(col("value")).as("value_sum"),
            count(when(post, 1)).as("n_post"),
            count(when(!post, 1)).as("n_pre"))
        u.crossJoin(broadcast(horizon)) // 1-row corpus horizon
          .select(col("user_id"), col("n_events"), col("n_purchases"),
            col("days_active"),
            datediff(col("last_day"), col("first_day")).cast("long")
              .as("span_days"),
            datediff(col("maxd"), col("last_day")).cast("long")
              .as("recency_days"),
            round(col("value_sum"), 4).as("value_sum"),
            (floor(col("value_sum") / col("n_events").cast("double")
              * lit(10000.0)) / lit(10000.0)).as("value_avg"),
            round(col("n_purchases").cast("double")
              / col("n_events").cast("double"), 6).as("purchase_rate"),
            (col("n_post") - col("n_pre")).as("activity_trend"))
      }),

    // ---- spatial grid join (neighbor-cell proximity pairs) -----------------
    // The 1-bucket-9-probe pattern behind every geohash/S2 proximity
    // join: deterministic 2D coordinates (portable hash of the key, so
    // the oracle reproduces them), cells of side R, candidates only
    // from the 3x3 neighbor cells, exact Chebyshev filter — the
    // all-pairs O(n^2) becomes O(n * density). Published as a
    // distance-bucket histogram of close pairs. 100 TB plan: one cell
    // shuffle + 9-fanout neighbor join; no cross join anywhere (the
    // q104 Z-order key makes the same cells RANGE-compact at rest).
    QuerySpec(
      "q275_grid_join", {
        val hx = Portable.h64Duck("'gx:' || CAST(c_custkey AS VARCHAR)")
        val hy = Portable.h64Duck("'gy:' || CAST(c_custkey AS VARCHAR)")
        Some(s"""WITH pt AS (SELECT c_custkey AS id, ($hx) % 10000 AS x,
              ($hy) % 10000 AS y FROM customer),
          cl AS (SELECT id, x, y, x // 200 AS cx, y // 200 AS cy FROM pt),
          nb AS (SELECT a.id AS ida, b.id AS idb,
              abs(a.x - b.x) AS dx, abs(a.y - b.y) AS dy
            FROM cl a JOIN cl b
              ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
             AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
             AND a.id < b.id),
          pr AS (SELECT CASE WHEN dx > dy THEN dx ELSE dy END AS cheb
            FROM nb WHERE dx < 200 AND dy < 200)
          SELECT cheb // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pr GROUP BY 1""")
      },
      (s, d) => {
        val hx = Portable.h64Spark("concat('gx:', cast(c_custkey as string))")
        val hy = Portable.h64Spark("concat('gy:', cast(c_custkey as string))")
        val pt = t(s, d, "customer")
          .select(col("c_custkey").as("id"),
            (expr(hx) % 10000).as("x"), (expr(hy) % 10000).as("y"))
          .select(col("id"), col("x"), col("y"),
            expr("x div 200").as("cx"), expr("y div 200").as("cy"))
          .cache() // both sides of the neighbor join
        // left side fans out to its 9 neighbor cells via a row-local
        // explode of the literal offset array (no join node at all), then
        // the pairing is pure EQUI on the (cell) key — no BNL range probes
        val offsets = Seq(-1, 0, 1).flatMap(dx => Seq(-1, 0, 1).map(dy =>
          s"struct($dx as dx, $dy as dy)")).mkString(", ")
        val probes = pt
          .select(col("id"), col("x"), col("y"), col("cx"), col("cy"),
            explode(expr(s"array($offsets)")).as("o"))
          .select(col("id"), col("x"), col("y"),
            (col("cx") + col("o.dx")).as("pcx"),
            (col("cy") + col("o.dy")).as("pcy"))
        val nb = probes.join(pt.select(col("id").as("idb"),
            col("x").as("xb"), col("y").as("yb"), col("cx").as("pcx"),
            col("cy").as("pcy")), Seq("pcx", "pcy"))
          .filter(col("id") < col("idb"))
          .select(abs(col("x") - col("xb")).as("dx"),
            abs(col("y") - col("yb")).as("dy"))
        nb.filter(col("dx") < 200 && col("dy") < 200)
          .select(when(col("dx") > col("dy"), col("dx")).otherwise(col("dy"))
            .as("cheb"))
          .select(expr("cheb div 50").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      }),

    // ---- functional-dependency audit ---------------------------------------
    // Schema discovery's other half (q260 finds keys; this finds
    // determinants): for each candidate A -> B, how many A-values map
    // to MORE than one B — zero violators means the FD holds and B can
    // be normalized out. One (A) aggregate with countDistinct(B) per
    // candidate; exact counts. The fourth candidate is the composite
    // key, included as a positive control.
    QuerySpec(
      "q276_fd_audit", {
        def cand(nm: String, tbl: String, a: String, b: String): String =
          s"""SELECT '$nm' AS fd,
            CAST(COUNT(*) AS BIGINT) AS n_keys,
            CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) AS BIGINT)
              AS n_violating,
            (COUNT(CASE WHEN nd > 1 THEN 1 END) = 0) AS holds
          FROM (SELECT $a, COUNT(DISTINCT $b) AS nd FROM $tbl
            GROUP BY $a) z"""
        Some(Seq(
          cand("o_orderkey->o_orderdate", "orders", "o_orderkey",
            "o_orderdate"),
          cand("o_custkey->o_orderpriority", "orders", "o_custkey",
            "o_orderpriority"),
          cand("o_orderdate->o_orderstatus", "orders", "o_orderdate",
            "o_orderstatus"),
          cand("l_orderkey->l_returnflag", "lineitem", "l_orderkey",
            "l_returnflag")).mkString(" UNION ALL "))
      },
      (s, d) => {
        def cand(nm: String, tbl: DataFrame, a: String, b: String)
            : DataFrame =
          tbl.groupBy(col(a)).agg(countDistinct(col(b)).as("nd"))
            .agg(count(lit(1)).as("n_keys"),
              count(when(col("nd") > 1, 1)).as("n_violating"))
            .select(lit(nm).as("fd"), col("n_keys"), col("n_violating"),
              (col("n_violating") === 0).as("holds"))
        val o = t(s, d, "orders")
        cand("o_orderkey->o_orderdate", o, "o_orderkey", "o_orderdate")
          .unionByName(cand("o_custkey->o_orderpriority", o, "o_custkey",
            "o_orderpriority"))
          .unionByName(cand("o_orderdate->o_orderstatus", o, "o_orderdate",
            "o_orderstatus"))
          .unionByName(cand("l_orderkey->l_returnflag",
            t(s, d, "lineitem"), "l_orderkey", "l_returnflag"))
      }),

    // ---- calendar dimension build (date spine) -----------------------------
    // The warehouse utility every star schema needs: a continuous date
    // spine over the fact's range with conformed attributes (epoch-day
    // weekday arithmetic — the q173 lesson: the engines' dayofweek()
    // builtins disagree, (epochDay + 4) % 7 does not), zero-filled
    // daily order counts. Bounded output (one row per calendar day);
    // the spine generates from a broadcast min/max and the fact joins
    // back on the day key.
    QuerySpec(
      "q278_date_spine",
      Some("""WITH bounds AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS mn,
            MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
        spine AS (SELECT CAST(unnest(generate_series(mn, mx,
            INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        attrs AS (SELECT day,
            CAST(month(day) AS BIGINT) AS month,
            CAST(quarter(day) AS BIGINT) AS quarter,
            CAST((datediff('day', DATE '1970-01-01', day) + 4) % 7
              AS BIGINT) AS dow
          FROM spine),
        oc AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        SELECT a.day, a.month, a.quarter, a.dow,
          (a.dow = 0 OR a.dow = 6) AS is_weekend,
          COALESCE(oc.n_orders, 0) AS n_orders
        FROM attrs a LEFT JOIN oc ON a.day = oc.day"""),
      (s, d) => {
        val bounds = t(s, d, "orders")
          .agg(min(col("o_orderdate").cast("date")).as("mn"),
            max(col("o_orderdate").cast("date")).as("mx"))
        val spine = bounds
          .select(explode(expr("sequence(mn, mx, interval 1 day)"))
            .as("day"))
        val attrs = spine.select(col("day"),
          month(col("day")).cast("long").as("month"),
          quarter(col("day")).cast("long").as("quarter"),
          ((datediff(col("day"), lit("1970-01-01")) + 4) % 7).cast("long")
            .as("dow"))
        val oc = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(count(lit(1)).as("n_orders"))
        attrs.join(oc, Seq("day"), "left")
          .select(col("day"), col("month"), col("quarter"), col("dow"),
            (col("dow") === 0 || col("dow") === 6).as("is_weekend"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      }),

    // ---- event study (holiday window effect) -------------------------------
    // The event-study readout around a recurring anchor (Dec 25 of each
    // fixture year): average daily revenue at each offset in [-7, +7],
    // indexed against the all-offset baseline — how demand bends around
    // the event. The (year x offset) spine is bounded and broadcast;
    // daily revenue is exact cents; the index is a pinned ratio. Years
    // whose anchor window falls outside the data simply contribute no
    // days (both engines identically).
    QuerySpec(
      "q285_event_study",
      Some(s"""WITH yr AS (SELECT DISTINCT year(o_orderdate) AS y
            FROM orders),
        offs AS (SELECT unnest(range(-7, 8)) AS off),
        spine AS (SELECT y, off,
            make_date(CAST(y AS INTEGER), 12, 25)
              + CAST(off AS INTEGER) AS day
          FROM yr, offs),
        oc AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        w AS (SELECT s.off, oc.cents FROM spine s
          JOIN oc ON s.day = oc.day),
        g AS (SELECT off, CAST(COUNT(*) AS BIGINT) AS n_years,
            CAST(SUM(cents) AS BIGINT) AS cents FROM w GROUP BY 1),
        base AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc,
            CAST(SUM(n_years) AS BIGINT) AS tn FROM g)
        SELECT CAST(g.off AS BIGINT) AS off, g.n_years, g.cents,
          round((CAST(g.cents AS DOUBLE) / CAST(g.n_years AS DOUBLE))
            / (CAST(base.tc AS DOUBLE) / CAST(base.tn AS DOUBLE)), 4)
            AS index_vs_baseline
        FROM g, base"""),
      (s, d) => {
        import s.implicits._
        val yr = t(s, d, "orders")
          .select(year(col("o_orderdate")).as("y")).distinct()
        val offs = (-7 to 7).toDF("off")
        val spine = yr.crossJoin(broadcast(offs))
          .select(col("y"), col("off"),
            date_add(make_date(col("y"), lit(12), lit(25)), col("off"))
              .as("day"))
        val oc = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val w = spine.join(oc, Seq("day"))
        val g = w.groupBy(col("off"))
          .agg(count(lit(1)).as("n_years"), sum(col("cents")).as("cents"))
          .cache() // 15 offset rows; feeds the baseline too
        val base = g.agg(sum(col("cents")).as("tc"),
          sum(col("n_years")).as("tn"))
        g.crossJoin(broadcast(base)) // 1-row baseline
          .select(col("off").cast("long").as("off"), col("n_years"),
            col("cents"),
            round((col("cents").cast("double")
              / col("n_years").cast("double"))
              / (col("tc").cast("double") / col("tn").cast("double")), 4)
              .as("index_vs_baseline"))
      }),

    // ---- audience overlap matrix (Jaccard of user sets) --------------------
    // Which event types reach the same users: pairwise Jaccard of the
    // per-type audience sets — the channel-planning overlap matrix. The
    // (type, user) distinct grain self-joins on the USER key (fan-out
    // bounded by types-per-user <= |types|), sizes broadcast back onto
    // the bounded pair grid; Jaccard is exact-integer |A-and-B| over
    // inclusion-exclusion.
    QuerySpec(
      "q286_audience_overlap",
      Some("""WITH ut AS (SELECT DISTINCT event_type AS g, user_id
            FROM events),
        sz AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        pr AS (SELECT a.g AS ga, b.g AS gb,
            CAST(COUNT(*) AS BIGINT) AS inter
          FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.g < b.g
          GROUP BY 1, 2)
        SELECT pr.ga, pr.gb, sa.n AS n_a, sb.n AS n_b, pr.inter,
          round(CAST(pr.inter AS DOUBLE)
            / CAST(sa.n + sb.n - pr.inter AS DOUBLE), 6) AS jaccard
        FROM pr JOIN sz sa ON pr.ga = sa.g JOIN sz sb ON pr.gb = sb.g"""),
      (s, d) => {
        val ut = t(s, d, "events")
          .select(col("event_type").as("g"), col("user_id"))
          .distinct().cache() // feeds sizes AND the user-keyed self-join
        val sz = ut.groupBy(col("g")).agg(count(lit(1)).as("n"))
        val pr = ut.join(ut.select(col("g").as("gb"), col("user_id")),
            Seq("user_id"))
          .filter(col("g") < col("gb"))
          .groupBy(col("g").as("ga"), col("gb"))
          .agg(count(lit(1)).as("inter"))
        pr.join(broadcast(sz.select(col("g").as("ga"), col("n").as("n_a"))),
            Seq("ga"))
          .join(broadcast(sz.select(col("g").as("gb"), col("n").as("n_b"))),
            Seq("gb"))
          .select(col("ga"), col("gb"), col("n_a"), col("n_b"), col("inter"),
            round(col("inter").cast("double")
              / (col("n_a") + col("n_b") - col("inter")).cast("double"), 6)
              .as("jaccard"))
      }),

    // ---- stylometric source similarity --------------------------------------
    // Authorship-attribution's workhorse: per-source relative
    // frequencies of the corpus's top-20 (function) words, compared by
    // cosine between source profiles — near-identical profiles flag
    // same-pipeline or templated sources. Rates live on an exact
    // per-million integer grid (cnt*1e6 div totalTokens) so dots and
    // norms are exact int64 and the cosine is one pinned divide. The
    // profile join keys on the word; the pair grid is |sources|^2
    // bounded. Top-10 most similar pairs, tie-broken by the pair.
    QuerySpec(
      "q289_stylometry",
      Some(s"""WITH tok AS (SELECT source,
            unnest(${toksDuck("text")}) AS w FROM documents),
        t2 AS (SELECT source, w FROM tok WHERE w <> ''),
        topw AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM t2 GROUP BY 1)
          z ORDER BY c DESC, w LIMIT 20),
        st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
          FROM t2 GROUP BY 1),
        cw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM t2 JOIN topw USING (w) GROUP BY 1, 2),
        r AS (SELECT cw.source, cw.w, (cw.c * 1000000) // st.tot AS rate
          FROM cw JOIN st ON cw.source = st.source),
        nrm AS (SELECT source, CAST(SUM(rate * rate) AS BIGINT) AS nsq
          FROM r GROUP BY 1),
        dot AS (SELECT a.source AS sa, b.source AS sb,
            CAST(SUM(a.rate * b.rate) AS BIGINT) AS dp
          FROM r a JOIN r b ON a.w = b.w AND a.source < b.source
          GROUP BY 1, 2)
        SELECT dot.sa, dot.sb,
          round(${Portable.cosDuck("dp", "na.nsq", "nb.nsq")}, 6) AS cosine
        FROM dot JOIN nrm na ON dot.sa = na.source
        JOIN nrm nb ON dot.sb = nb.source
        ORDER BY ${Portable.cosDuck("dp", "na.nsq", "nb.nsq")} DESC,
          dot.sa, dot.sb
        LIMIT 10"""),
      (s, d) => {
        val t2 = t(s, d, "documents")
          .select(col("source"), explode(expr(toksSpark("text"))).as("w"))
          .filter(col("w") =!= "")
          .cache() // feeds top-words, totals, and per-source counts
        val topw = t2.groupBy(col("w")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(20).select(col("w"))
        val st = t2.groupBy(col("source")).agg(count(lit(1)).as("tot"))
        val cw = t2.join(broadcast(topw), Seq("w"))
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        val r = cw.join(broadcast(st), Seq("source"))
          .select(col("source"), col("w"),
            expr("(c * 1000000) div tot").as("rate"))
          .cache() // bounded |sources| x 20 profile grid
        val nrm = r.groupBy(col("source"))
          .agg(sum(col("rate") * col("rate")).as("nsq"))
        val dot = r.join(r.select(col("w"), col("source").as("sb"),
            col("rate").as("rb")), Seq("w"))
          .filter(col("source") < col("sb"))
          .groupBy(col("source").as("sa"), col("sb"))
          .agg(sum(col("rate") * col("rb")).as("dp"))
        val cosine = col("dp").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
        dot.join(broadcast(nrm.select(col("source").as("sa"),
            col("nsq").as("na"))), Seq("sa"))
          .join(broadcast(nrm.select(col("source").as("sb"),
            col("nsq").as("nb"))), Seq("sb"))
          .orderBy(cosine.desc, col("sa"), col("sb")).limit(10)
          .select(col("sa"), col("sb"), round(cosine, 6).as("cosine"))
      }),

    // ---- price-ending audit (psychological pricing) ------------------------
    // The retail pricing audit: the distribution of cents endings
    // (price mod 100) — a spike at .99/.95 reveals charm pricing, a
    // uniform spread reveals computed prices. One row-local mod + one
    // bounded (<=100 endings) aggregate with exact shares.
    QuerySpec(
      "q290_price_endings",
      Some("""WITH e AS (SELECT
            CAST(round(o_totalprice * 100, 0) AS BIGINT) % 100 AS ending
          FROM orders),
        g AS (SELECT ending, CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g)
        SELECT ending, n,
          round(CAST(n AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS share
        FROM g, tot"""),
      (s, d) => {
        val g = t(s, d, "orders")
          .select((round(col("o_totalprice") * 100, 0).cast("long") % 100)
            .as("ending"))
          .groupBy(col("ending")).agg(count(lit(1)).as("n"))
          .cache() // <=100 rows; feeds the total too
        val tot = g.agg(sum(col("n")).as("t"))
        g.crossJoin(broadcast(tot)) // 1-row total
          .select(col("ending"), col("n"),
            round(col("n").cast("double") / col("t").cast("double"), 6)
              .as("share"))
      }),

    // ---- column content fingerprints (dataset diffing) ---------------------
    // The primitive behind data-diff tools: an ORDER-INDEPENDENT
    // content hash per column (sum of portable row hashes modulo the
    // Mersenne prime 2^61-1 — associative, so any partitioning yields
    // the same fingerprint) plus row and distinct counts. Two tables
    // are content-equal per column iff the fingerprint rows match — no
    // sort, no full compare. The wide sum rides HUGEINT/DECIMAL(38)
    // exactly before the one modulo.
    QuerySpec(
      "q295_content_fingerprint", {
        def fp(nm: String, e: String): String = {
          val h = Portable.h64Duck(s"'fp:' || CAST($e AS VARCHAR)")
          s"""SELECT '$nm' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(COUNT(DISTINCT $e) AS BIGINT) AS ndv,
            CAST(SUM(CAST($h AS HUGEINT)) % 2305843009213693951 AS BIGINT)
              AS fingerprint
          FROM orders"""
        }
        Some(Seq(
          fp("o_orderkey", "o_orderkey"),
          fp("o_custkey", "o_custkey"),
          fp("o_orderstatus", "o_orderstatus"),
          fp("o_orderpriority", "o_orderpriority"))
          .mkString(" UNION ALL "))
      },
      (s, d) => {
        val o = t(s, d, "orders").cache() // four column passes, one scan
        def fp(nm: String, e: String): DataFrame = {
          val h = Portable.h64Spark(s"concat('fp:', cast($e as string))")
          o.agg(count(lit(1)).as("n"), countDistinct(col(e)).as("ndv"),
            expr(s"cast(sum(cast(($h) as decimal(38,0))) " +
              "% 2305843009213693951 as bigint)").as("fingerprint"))
            .select(lit(nm).as("col_name"), col("n"), col("ndv"),
              col("fingerprint"))
        }
        fp("o_orderkey", "o_orderkey")
          .unionByName(fp("o_custkey", "o_custkey"))
          .unionByName(fp("o_orderstatus", "o_orderstatus"))
          .unionByName(fp("o_orderpriority", "o_orderpriority"))
      })
  )
}
