package graft.queries

import graft.Tables
import graft.functions.Exact
import graft.operators.BlockScan
import graft.functions.Portable.{toksSpark, toksDuck, ngramsSpark, ngramsDuck}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-analytics and corpus-quality operators, continuing the
  * Curation family: Pareto-frontier (skyline) selection, SCD Type-2
  * interval building, zone-map statistics collection, robust statistics
  * (median / MAD / winsorized mean), Markov transition matrices, and
  * first-occurrence n-gram novelty scoring.
  *
  * Same contract as every other family: each operator is declared in the
  * DataFrame DSL and as DuckDB oracle SQL built from the same Scala
  * constants, and the two must hash-match (SparkEntry contract). All
  * floating-point outputs are either single IEEE ops on exactly-agreed
  * inputs (one divide of two exact longs) or go through the [[Exact]]
  * decimal-grid reduction; percentile interpolation relies on the
  * two-product form both engines share (pinned by QuantilesSpec).
  */
object Warehouse {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Buckets for the local-skyline pass (any deterministic split works —
    * the bucket id never reaches the output).
    */
  private val SkylineBuckets = 16

  /** Attribution lookback: a purchase credits the most recent click no
    * older than this.
    */
  private val AttrWindowMs = 7L * 86400000L

  val all: Seq[QuerySpec] = Seq(

    // ---- Pareto frontier / skyline -----------------------------------------
    // "Best documents under two competing quality axes" (Börzsönyi et al.,
    // ICDE'01 skyline operator — public literature): keep the (n_chars,
    // distinct-token-count) points no other point dominates. Curation use:
    // the frontier is the candidate set when you can't scalarize quality.
    // Distributed shape: dedup to distinct metric PAIRS (one partial-agg
    // shuffle — output bounded by the metric domain, not the corpus), then
    // a LOCAL skyline per deterministic bucket (parallel windows; a
    // bucket-local dominator is a global dominator, so survivors are a
    // superset of the frontier), then the same window once over the tiny
    // union of local frontiers. The only unpartitioned window runs over
    // ≤ |local frontiers| rows, not the data — the q76/q88 discipline.
    // Dominance is integer comparison; no floats anywhere.
    QuerySpec(
      "q121_skyline",
      Some(s"""WITH m AS (SELECT doc_id, n_chars AS m1,
            CAST(len(list_distinct(${toksDuck("text")}))
              AS BIGINT) AS m2
          FROM documents),
        p AS (SELECT m1, m2, COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc
          FROM m GROUP BY m1, m2)
        SELECT m1 AS n_chars, m2 AS n_uniq_tokens, n_docs, rep_doc
        FROM p a
        WHERE NOT EXISTS (SELECT 1 FROM p b
          WHERE b.m1 >= a.m1 AND b.m2 >= a.m2
            AND (b.m1 > a.m1 OR b.m2 > a.m2))"""),
      (s, d) => {
        val pairs = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars").as("m1"),
            size(array_distinct(expr(toksSpark("text"))))
              .cast("long").as("m2"))
          .groupBy(col("m1"), col("m2"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
        // On distinct pairs ordered (m1 desc, m2 desc), a point survives
        // iff no earlier row has m2 >= its m2: earlier rows have m1 > cur
        // (dominators iff m2 >= cur) or m1 = cur with m2 > cur (always
        // dominators); later rows never dominate.
        def skyline(df: DataFrame, part: Seq[Column]): DataFrame = {
          val w = Window.partitionBy(part: _*)
            .orderBy(col("m1").desc, col("m2").desc)
            .rowsBetween(Window.unboundedPreceding, -1)
          df.withColumn("mx", max(col("m2")).over(w))
            .filter(col("mx").isNull || col("mx") < col("m2")).drop("mx")
        }
        val local = skyline(
          pairs.withColumn("b",
            pmod(col("m1") * 31 + col("m2"), lit(SkylineBuckets.toLong))),
          Seq(col("b"))).drop("b")
        skyline(local, Seq.empty)
          .select(col("m1").as("n_chars"), col("m2").as("n_uniq_tokens"),
            col("n_docs"), col("rep_doc"))
      }),

    // ---- SCD Type-2 interval build -----------------------------------------
    // The dimension-history primitive (Kimball's slowly-changing-dimension
    // type 2): collapse each user's event stream into change records with
    // [valid_from, valid_to) validity and an is_current flag — the batch
    // backbone of every warehouse dimension load. Shape: ONE shuffle on
    // user_id; the change-detect lag, the valid_to lead, and the version
    // row_number all share that partitioning (the filter in between
    // preserves it), so Catalyst plans a single exchange. Determinism:
    // event-time ties break on event_id in both engines.
    QuerySpec(
      "q122_scd2",
      Some("""WITH c AS (
          SELECT user_id, event_type, ts, event_id,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev
          FROM events),
        ch AS (SELECT user_id, event_type, ts, event_id FROM c
          WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id, event_type, ts AS valid_from,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS valid_to,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS version,
          (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            IS NULL) AS is_current
        FROM ch"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .select(col("user_id"), col("event_type"),
            col("ts").as("valid_from"),
            lead(col("ts"), 1).over(w).as("valid_to"),
            row_number().over(w).cast("long").as("version"),
            lead(col("ts"), 1).over(w).isNull.as("is_current"))
      }),

    // ---- zone-map / data-skipping statistics --------------------------------
    // The stats table a lakehouse writer maintains per partition (small
    // materialized aggregates, Moerkotte VLDB'98; Delta/Iceberg file
    // stats): per month-partition min/max/count over the skipping columns,
    // plus an exact cent-sum for reconciliation. This IS the input to
    // partition pruning — a query with l_shipdate or l_orderkey bounds
    // skips every partition whose [min,max] misses the predicate.
    // Shape: one partial-agg-friendly shuffle whose key count is the
    // partition count — scan-speed at any corpus size; all stats are
    // exact integer/timestamp min/max (no floats).
    QuerySpec(
      "q123_zonemap",
      Some("""SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
            AS part_month,
          COUNT(*) AS n_rows,
          MIN(l_orderkey) AS min_orderkey, MAX(l_orderkey) AS max_orderkey,
          MIN(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
            AS min_price_cents,
          MAX(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
            AS max_price_cents,
          CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
            AS BIGINT) AS sum_price_cents,
          MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate
        FROM lineitem GROUP BY 1"""),
      (s, d) => {
        val cents = round(col("l_extendedprice") * 100, 0).cast("long")
        t(s, d, "lineitem")
          // date_trunc implicitly promotes the NTZ-read timestamp to LTZ,
          // which would write part_month as isAdjustedToUTC=1 parquet and
          // diverge from the oracle's (and the row's other columns') NTZ
          // type — cast back, same pattern as the .cast("date") keys.
          .groupBy(date_trunc("month", col("l_shipdate"))
            .cast("timestamp_ntz").as("part_month"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_orderkey"),
            max(col("l_orderkey")).as("max_orderkey"),
            min(cents).as("min_price_cents"),
            max(cents).as("max_price_cents"),
            sum(cents).as("sum_price_cents"),
            min(col("l_shipdate")).as("min_shipdate"),
            max(col("l_shipdate")).as("max_shipdate"))
      }),

    // ---- robust statistics: median / MAD / winsorized mean ------------------
    // Outlier-resistant group profiles — the robust counterpart of q77's
    // moment statistics: exact median, median absolute deviation, and the
    // [p05, p95]-winsorized mean, all in integer cents. Two passes over
    // the data (quantiles, then deviation/clamp aggregates) joined through
    // a broadcast of the |groups|-row quantile frame. Determinism:
    // percentile interpolation is the two-product form both engines share
    // (QuantilesSpec pins it); the winsorized mean goes through the
    // decimal grid; every other output is a single IEEE divide by 100.
    // At 100 TB the per-group exact percentile buffer is the ceiling —
    // operators.Quantiles is the distributed replacement (same
    // interpolation, shuffle-based histogram); built-in `percentile` keeps
    // this query single-pass at bench scale.
    QuerySpec(
      "q124_robust_stats",
      Some(s"""WITH c AS (SELECT l_returnflag,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        q AS (SELECT l_returnflag,
            quantile_cont(cents, 0.05) AS p05,
            quantile_cont(cents, 0.5) AS med,
            quantile_cont(cents, 0.95) AS p95
          FROM c GROUP BY l_returnflag),
        j AS (SELECT c.l_returnflag, cents, p05, med, p95
          FROM c JOIN q USING (l_returnflag)),
        m AS (SELECT l_returnflag,
            quantile_cont(abs(CAST(cents AS DOUBLE) - med), 0.5) AS mad_cents
          FROM j GROUP BY l_returnflag),
        w AS (SELECT l_returnflag,
            ${Exact.sqlDavg(
              "least(greatest(CAST(cents AS DOUBLE), p05), p95) / 100")}
              AS winsor_mean
          FROM j GROUP BY l_returnflag)
        SELECT q.l_returnflag,
          med / 100 AS median_price, p05 / 100 AS p05_price,
          p95 / 100 AS p95_price, mad_cents / 100 AS mad_price,
          winsor_mean
        FROM q JOIN m USING (l_returnflag) JOIN w USING (l_returnflag)"""),
      (s, d) => {
        val c = t(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        val q = c.groupBy(col("l_returnflag")).agg(
          expr("percentile(cents, 0.05)").as("p05"),
          expr("percentile(cents, 0.5)").as("med"),
          expr("percentile(cents, 0.95)").as("p95"))
        val j = c.join(broadcast(q), "l_returnflag")
        val m = j
          .withColumn("adev", abs(col("cents").cast("double") - col("med")))
          .groupBy(col("l_returnflag"))
          .agg(expr("percentile(adev, 0.5)").as("mad_cents"))
        val w = j
          .withColumn("wc",
            least(greatest(col("cents").cast("double"), col("p05")),
              col("p95")) / 100)
          .groupBy(col("l_returnflag"))
          .agg(Exact.davg(col("wc")).as("winsor_mean"))
        q.join(m, "l_returnflag").join(w, "l_returnflag")
          .select(col("l_returnflag"),
            (col("med") / 100).as("median_price"),
            (col("p05") / 100).as("p05_price"),
            (col("p95") / 100).as("p95_price"),
            (col("mad_cents") / 100).as("mad_price"),
            col("winsor_mean"))
      }),

    // ---- Markov transition matrix ------------------------------------------
    // First-order behavioral model over the event stream: P(next type |
    // type), the summary behind session simulation, anomaly baselines
    // (q117) and path mining (q116). Shape: one shuffle on user_id for the
    // lead window, then a partial-agg count shuffle on the (from, to)
    // pair; the per-source totals frame is |types| rows and broadcasts.
    // p is ONE IEEE divide of two exact longs — portable without a grid.
    QuerySpec(
      "q125_transitions",
      Some("""WITH nx AS (
          SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
        ab AS (SELECT from_type, to_type, COUNT(*) AS n_trans
          FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        a AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
          FROM ab GROUP BY from_type)
        SELECT ab.from_type, ab.to_type, ab.n_trans,
          CAST(ab.n_trans AS DOUBLE) / a.n_from AS p
        FROM ab JOIN a USING (from_type)"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ab = t(s, d, "events")
          .select(col("event_type").as("from_type"),
            lead(col("event_type"), 1).over(w).as("to_type"))
          .filter(col("to_type").isNotNull)
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n_trans"))
        val a = ab.groupBy(col("from_type"))
          .agg(sum(col("n_trans")).as("n_from"))
        ab.join(broadcast(a), "from_type")
          .select(col("from_type"), col("to_type"), col("n_trans"),
            (col("n_trans").cast("double") / col("n_from")).as("p"))
      }),

    // ---- first-occurrence n-gram novelty ------------------------------------
    // Corpus-order novelty scoring (the signal RefinedWeb-style pipelines
    // use to find boilerplate-heavy or derivative documents): per doc, the
    // fraction of its distinct trigrams whose corpus-wide FIRST occurrence
    // (min doc_id) is this doc. Shape: distinct (doc, gram) pairs via one
    // shuffle; then the clever part — the per-doc novel count comes from
    // the first-occurrence table ALONE (group its min-doc column), so the
    // gram-keyed frame never joins back against the corpus; the final join
    // is doc-level aggregate × doc-level aggregate. Three partial-agg
    // shuffles total, no self-join. novelty = one IEEE divide of exact
    // longs.
    QuerySpec(
      "q126_novelty",
      Some(s"""WITH tk AS (SELECT doc_id,
            ${toksDuck("text")} AS t FROM documents),
        tri AS (SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(${ngramsDuck("t", 3)}) AS g
            FROM tk WHERE len(t) >= 3) z),
        pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM tri GROUP BY doc_id),
        fo AS (SELECT g, MIN(doc_id) AS doc_id FROM tri GROUP BY g),
        nv AS (SELECT doc_id, COUNT(*) AS n_novel FROM fo GROUP BY doc_id)
        SELECT pd.doc_id, pd.n_grams,
          COALESCE(nv.n_novel, 0) AS n_novel,
          CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / pd.n_grams AS novelty
        FROM pd LEFT JOIN nv USING (doc_id)"""),
      (s, d) => {
        val tri = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), explode(expr(ngramsSpark("t", 3))).as("g"))
          .distinct()
        val pd = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val nv = tri.groupBy(col("g")).agg(min(col("doc_id")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
        pd.join(nv, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            (coalesce(col("n_novel"), lit(0L)).cast("double")
              / col("n_grams")).as("novelty"))
      }),

    // ---- last-touch attribution ---------------------------------------------
    // Marketing attribution over the event stream: each purchase credits
    // the user's most recent click no older than the 7-day lookback. The
    // "most recent preceding click" is a running max over a click-only
    // column inside the user window (NULLs self-skip — no as-of join, no
    // IGNORE NULLS dialect dependency), so the whole operator is the ONE
    // user_id shuffle plus a per-user aggregate. Determinism: ties order
    // on event_id; the attributed sum crosses rows on the decimal grid.
    QuerySpec(
      "q127_attribution",
      Some(s"""WITH a AS (SELECT user_id, event_type, ts, value,
            max(CASE WHEN event_type = 'click' THEN ts END) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
          FROM events),
        p AS (SELECT user_id, value,
            (last_click IS NOT NULL AND
             epoch_ms(ts) - epoch_ms(last_click) <= $AttrWindowMs)
              AS attributed
          FROM a WHERE event_type = 'purchase')
        SELECT user_id, COUNT(*) AS n_purchases,
          CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
            AS n_attributed,
          ${Exact.sqlDsum("CASE WHEN attributed THEN value ELSE 0.0 END")}
            AS attributed_value
        FROM p GROUP BY user_id"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .withColumn("last_click",
            max(when(col("event_type") === "click", col("ts"))).over(w))
          .filter(col("event_type") === "purchase")
          .withColumn("attributed", col("last_click").isNotNull &&
            (expr("unix_millis(cast(ts as timestamp))")
              - expr("unix_millis(cast(last_click as timestamp))"))
              <= lit(AttrWindowMs))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(when(col("attributed"), 1L).otherwise(0L))
              .as("n_attributed"),
            Exact.dsum(when(col("attributed"), col("value")).otherwise(0.0))
              .as("attributed_value"))
      }),

    // ---- time-weighted average ----------------------------------------------
    // The finance/IoT aggregate plain AVG gets wrong: each observation
    // holds until the next one, so it weighs by its holding duration —
    // twa = Σ value·dur / Σ dur over each user's consecutive intervals
    // (the last, open-ended observation carries no weight). One user_id
    // shuffle for the lead window, one partial-agg shuffle. Determinism:
    // durations are exact epoch-ms longs; value·dur is one IEEE product
    // summed on the decimal grid; the final divide is guarded against
    // zero total duration symmetrically in both engines (the q77 lesson).
    QuerySpec(
      "q129_twa",
      Some(s"""WITH iv AS (SELECT user_id, value,
            epoch_ms(lead(ts) OVER (PARTITION BY user_id
              ORDER BY ts, event_id)) - epoch_ms(ts) AS dur
          FROM events),
        g AS (SELECT user_id, COUNT(*) AS n_intervals,
            CAST(SUM(dur) AS BIGINT) AS total_ms,
            ${Exact.sqlDsum("value * dur")} AS vsum
          FROM iv WHERE dur IS NOT NULL GROUP BY user_id)
        SELECT user_id, n_intervals, total_ms,
          vsum / NULLIF(total_ms, 0) AS twa
        FROM g"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("next_ts", lead(col("ts"), 1).over(w))
          .filter(col("next_ts").isNotNull)
          .withColumn("dur",
            expr("unix_millis(cast(next_ts as timestamp))")
              - expr("unix_millis(cast(ts as timestamp))"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("dur")).as("total_ms"),
            Exact.dsum(col("value") * col("dur")).as("vsum"))
          .select(col("user_id"), col("n_intervals"), col("total_ms"),
            (col("vsum") / nullif(col("total_ms"), lit(0))).as("twa"))
      }),

    // ---- embedding QA / outlier flagging ------------------------------------
    // The sanity gate before any ANN/cosine stage: corrupt or
    // mis-normalized vectors show up as squared-norm outliers. Norms are
    // exact integer sums of quantized components (Portable's q=1000 grid);
    // the p99 cut comes from operators.Quantiles — the DISTRIBUTED exact
    // quantile (shuffle-bounded by the distinct-norm count), not the
    // single-buffer built-in — and broadcasts back for a row-local flag.
    // Everything hash-checked: counts and min/max are exact longs; the
    // flag compares bit-identical doubles.
    QuerySpec(
      "q130_embedding_qa", {
        import graft.functions.Portable
        val dims = 64
        Some(s"""WITH q AS (SELECT label,
            ${Portable.qnsqDuck(s"(${Portable.qvecDuck("embedding", dims)})",
              dims)} AS norm2
          FROM embeddings),
        c AS (SELECT quantile_cont(norm2, 0.99) AS p99 FROM q)
        SELECT label, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN CAST(norm2 AS DOUBLE) > p99 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
          MIN(norm2) AS min_norm2, MAX(norm2) AS max_norm2
        FROM q, c GROUP BY label""")
      },
      (s, d) => {
        import graft.functions.Portable
        val q = t(s, d, "embeddings")
          .withColumn("qv", expr(Portable.qvecSpark("embedding")))
          .withColumn("norm2", expr(Portable.qnsqSpark("qv")))
          .select(col("label"), col("norm2"))
        val cut = graft.operators.Quantiles
          .exactQuantiles(q, col("norm2"), Seq(0.99))
        q.crossJoin(broadcast(cut))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("norm2").cast("double") > expr("cuts[0]"), 1L)
              .otherwise(0L)).as("n_flagged"),
            min(col("norm2")).as("min_norm2"),
            max(col("norm2")).as("max_norm2"))
      }),

    // ---- RFM customer segmentation ------------------------------------------
    // The marketing-warehouse classic: recency (days since last order,
    // against the corpus max date), frequency (order count), monetary
    // (lifetime cents — exact), each scored 1-5 by which quintile the
    // customer lands in. Scores come from BROADCAST quantile cutpoints
    // (the q102 equi-depth machinery — Quantiles.exactQuantiles matches
    // DuckDB's quantile_cont bitwise, pinned by QuantilesSpec), NOT from
    // an NTILE window: a global NTILE sorts all |customers| rows through
    // one partition, the cutpoint bin is row-local against 4 doubles.
    // Output is the segment lattice: (r,f,m) -> customer count + exact
    // lifetime cents.
    QuerySpec(
      "q143_rfm",
      Some("""WITH base AS (SELECT o_custkey AS c,
          date_diff('day', CAST(MAX(o_orderdate) AS DATE),
            (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS rec,
          CAST(COUNT(*) AS BIGINT) AS freq,
          CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
            AS mon
        FROM orders GROUP BY 1),
      qr AS (SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS rcuts
        FROM base),
      qf AS (SELECT quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fcuts
        FROM base),
      qm AS (SELECT quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS mcuts
        FROM base),
      sc AS (SELECT c, mon,
          CAST(1 + list_sum([CASE WHEN rec > rcuts[i] THEN 1 ELSE 0 END
            for i in range(1, 5)]) AS BIGINT) AS r_score,
          CAST(1 + list_sum([CASE WHEN freq > fcuts[i] THEN 1 ELSE 0 END
            for i in range(1, 5)]) AS BIGINT) AS f_score,
          CAST(1 + list_sum([CASE WHEN mon > mcuts[i] THEN 1 ELSE 0 END
            for i in range(1, 5)]) AS BIGINT) AS m_score
        FROM base, qr, qf, qm)
      SELECT r_score, f_score, m_score,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(mon) AS BIGINT) AS mon_cents
      FROM sc GROUP BY 1, 2, 3"""),
      (s, d) => {
        val o = t(s, d, "orders")
        val maxDate = o.agg(max(col("o_orderdate")).cast("date").as("dmax"))
        val base = o.groupBy(col("o_custkey").as("c"))
          .agg(max(col("o_orderdate")).cast("date").as("dlast"),
            count(lit(1)).as("freq"),
            sum(round(col("o_totalprice") * 100, 0).cast("long"))
              .as("mon"))
          .crossJoin(broadcast(maxDate))
          .select(col("c"), datediff(col("dmax"), col("dlast")).as("rec"),
            col("freq"), col("mon"))
          .cache() // feeds the stacked quantile pass + the scoring pass
        // ONE grouped-quantile pass over the stacked (metric, value)
        // frame, not three exactQuantiles instances: the quantile
        // machinery (histogram shuffle + two windows + rank joins) has a
        // per-instance cost that tripled the query's wall time; grouped
        // by metric name it runs once, keyed on (metric, block).
        val stacked = base.select(expr(
          "stack(3, 'r', cast(rec as bigint), 'f', freq, 'm', mon)")
          .as(Seq("metric", "v")))
        val cutsRow = broadcast(graft.operators.Quantiles
          .exactQuantilesByGroup(stacked, col("metric"), col("v"),
            Seq(0.2, 0.4, 0.6, 0.8))
          .groupBy(col("grp"))
          .agg(array_sort(collect_list(col("cut"))).as("cuts"))
          .agg(max(when(col("grp") === "r", col("cuts"))).as("rcuts"),
            max(when(col("grp") === "f", col("cuts"))).as("fcuts"),
            max(when(col("grp") === "m", col("cuts"))).as("mcuts")))
        base.crossJoin(cutsRow)
          .select(col("mon"),
            expr("1L + aggregate(rcuts, 0L, (a, x) -> a + IF(rec > x, 1L, 0L))")
              .as("r_score"),
            expr("1L + aggregate(fcuts, 0L, (a, x) -> a + IF(freq > x, 1L, 0L))")
              .as("f_score"),
            expr("1L + aggregate(mcuts, 0L, (a, x) -> a + IF(mon > x, 1L, 0L))")
              .as("m_score"))
          .groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("mon")).cast("long").as("mon_cents"))
      }),

    // ---- decile lift / calibration table ------------------------------------
    // Model-evaluation companion to q137's AUC: bucket the score into
    // exact deciles (broadcast cutpoints again — no global NTILE), then
    // per decile the positive count and the CUMULATIVE capture from the
    // top decile down. The only window runs over the 10-row decile
    // frame — bounded by construction, never by data. Lift ratios are
    // single-rounded IEEE ops over exact longs.
    QuerySpec(
      "q144_lift",
      Some("""WITH c AS (SELECT
          CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders),
      q AS (SELECT quantile_cont(cents,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM c),
      b AS (SELECT CAST(list_sum([CASE WHEN cents > cuts[i] THEN 1 ELSE 0 END
            for i in range(1, 10)]) AS BIGINT) AS decile,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM c, q GROUP BY 1),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
          CAST(SUM(n_pos) AS BIGINT) AS tp FROM b),
      w AS (SELECT decile, n, n_pos,
          CAST(SUM(n) OVER (ORDER BY decile DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_n,
          CAST(SUM(n_pos) OVER (ORDER BY decile DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_pos
        FROM b)
      SELECT w.decile, w.n, w.n_pos, w.cum_n, w.cum_pos,
        (CAST(w.cum_pos AS DOUBLE) / CAST(w.cum_n AS DOUBLE))
          / (CAST(t.tp AS DOUBLE) / CAST(t.tn AS DOUBLE)) AS cum_lift
      FROM w, t"""),
      (s, d) => {
        val c = t(s, d, "orders").select(
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
          .cache() // quantile pass + binning pass
        val cuts = broadcast(graft.operators.Quantiles
          .exactQuantiles(c, col("cents"), (1 to 9).map(_ / 10.0)))
        val b = c.crossJoin(cuts)
          .select(
            expr("aggregate(cuts, 0L, (a, x) -> a + IF(cents > x, 1L, 0L))")
              .as("decile"),
            col("pos"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).cast("long")
            .as("n_pos"))
          .cache() // totals + the 10-row cumulative window
        val tot = b.agg(sum(col("n")).cast("long").as("tn"),
          sum(col("n_pos")).cast("long").as("tp"))
        // bounded window: the frame is the <= 10-row decile table, never
        // the data — single-partition is the CORRECT plan here
        val wc = Window.orderBy(col("decile").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        b.withColumn("cum_n", sum(col("n")).over(wc).cast("long"))
          .withColumn("cum_pos", sum(col("n_pos")).over(wc).cast("long"))
          .crossJoin(broadcast(tot))
          .select(col("decile"), col("n"), col("n_pos"), col("cum_n"),
            col("cum_pos"),
            ((col("cum_pos").cast("double") / col("cum_n").cast("double"))
              / (col("tp").cast("double") / col("tn").cast("double")))
              .as("cum_lift"))
      }),

    // ---- weighted median (quantity-weighted price per return flag) ---------
    // The robust "typical unit price" where each row counts `quantity`
    // times — the lower weighted median: smallest value v whose running
    // weight reaches half the total (2·cum >= W in exact integers — no
    // float near the decision boundary). Distributed shape: collapse to a
    // (flag, cents) VALUE HISTOGRAM first (partial-agg shuffle whose
    // output is bounded by flag x cent-range — corpus-size-independent),
    // run the cumulative window over that bounded table, then one
    // argmin-style min over qualifying values. Same posture as q102's
    // rank lookup: no data-sized window anywhere.
    QuerySpec(
      "q154_weighted_median",
      Some("""WITH h AS (SELECT l_returnflag AS flag,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
            CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w
          FROM lineitem GROUP BY 1, 2),
        c AS (SELECT flag, cents, w,
            CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum,
            CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS wtot
          FROM h)
        SELECT flag AS l_returnflag, wtot AS w_total,
          CAST(MIN(cents) AS BIGINT) AS median_cents,
          CAST(MIN(cents) AS DOUBLE) / 100 AS wmedian_price
        FROM c WHERE 2 * cum >= wtot GROUP BY 1, 2"""),
      (s, d) => {
        val h = t(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("flag"),
            expr("cast(round(l_extendedprice * 100, 0) as bigint)")
              .as("cents"))
          .agg(sum(expr("cast(round(l_quantity, 0) as bigint)")).as("w"))
        // windows over the bounded histogram only
        val wCum = Window.partitionBy(col("flag")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("cum", sum(col("w")).over(wCum).cast("long"))
          .withColumn("wtot",
            sum(col("w")).over(Window.partitionBy(col("flag"))).cast("long"))
          .filter(col("cum") * 2 >= col("wtot"))
          .groupBy(col("flag").as("l_returnflag"), col("wtot").as("w_total"))
          .agg(min(col("cents")).cast("long").as("median_cents"),
            (min(col("cents")).cast("double") / 100).as("wmedian_price"))
      }),

    // ---- snapshot diff (table-version delta report) -------------------------
    // The lakehouse audit between two table versions: classify every key
    // as added / removed / changed / unchanged and report net value
    // drift. ONE full-outer join co-partitioned on the key — both sides
    // shuffle once on (orderkey, linenumber) and every classification is
    // row-local after that; the rollup is a 4-group partial+final
    // aggregate. At 100 TB both snapshots would be bucketed on the key
    // and the exchange disappears entirely. Snapshots are derived
    // deterministically from lineitem: OLD = shipped before 1997-07-01;
    // NEW = shipped from 1996-01-01, with returned ('R') rows carrying a
    // +5 quantity correction — the overlap year supplies unchanged AND
    // changed rows, the disjoint tails supply removed/added.
    QuerySpec(
      "q161_snapshot_diff",
      Some("""WITH old AS (SELECT l_orderkey AS k1, l_linenumber AS k2,
            CAST(round(l_quantity, 0) AS BIGINT) AS v
          FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-07-01'),
        new AS (SELECT l_orderkey AS k1, l_linenumber AS k2,
            CAST(round(l_quantity, 0) AS BIGINT)
              + CASE WHEN l_returnflag = 'R' THEN 5 ELSE 0 END AS v
          FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
        j AS (SELECT
            CASE WHEN o.k1 IS NULL THEN 'added'
                 WHEN n.k1 IS NULL THEN 'removed'
                 WHEN o.v <> n.v THEN 'changed'
                 ELSE 'unchanged' END AS status,
            COALESCE(n.v, 0) - COALESCE(o.v, 0) AS dv
          FROM old o FULL OUTER JOIN new n
            ON o.k1 = n.k1 AND o.k2 = n.k2)
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(dv) AS BIGINT) AS net_delta
        FROM j GROUP BY 1"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val old = li.filter(col("l_shipdate") < lit("1997-07-01"))
          .select(col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
            round(col("l_quantity"), 0).cast("long").as("ov"))
        val nw = li.filter(col("l_shipdate") >= lit("1996-01-01"))
          .select(col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
            (round(col("l_quantity"), 0).cast("long")
              + when(col("l_returnflag") === "R", 5L).otherwise(0L))
              .as("nv"))
        old.join(nw, Seq("k1", "k2"), "full_outer")
          .select(
            when(col("ov").isNull, "added")
              .when(col("nv").isNull, "removed")
              .when(col("ov") =!= col("nv"), "changed")
              .otherwise("unchanged").as("status"),
            (coalesce(col("nv"), lit(0L)) - coalesce(col("ov"), lit(0L)))
              .as("dv"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"), sum(col("dv")).cast("long")
            .as("net_delta"))
      }),

    // ---- fact-to-detail reconciliation --------------------------------------
    // The warehouse closing check: does each order header's total match
    // the sum of its line terms (extendedprice * (1-discount) *
    // (1+tax))? Line terms round to cents PER LINE with the identical
    // expression text in both engines (same IEEE multiply order), so the
    // per-order sum is exact int64 and the header diff is deterministic;
    // |diff| <= 1 cent counts as reconciled (per-line rounding slack).
    // ONE co-partitioned join on the order key (AQE picks the strategy),
    // then a |status|-group rollup.
    QuerySpec(
      "q175_reconciliation",
      Some("""WITH l AS (SELECT l_orderkey,
            CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
              * (1.0 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS line_cents
          FROM lineitem GROUP BY 1),
        o AS (SELECT o_orderkey, o_orderstatus,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS order_cents
          FROM orders),
        j AS (SELECT o.o_orderstatus,
            o.order_cents - COALESCE(l.line_cents, 0) AS diff,
            CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END AS no_lines
          FROM o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(no_lines) AS BIGINT) AS n_no_lines,
          CAST(SUM(CASE WHEN no_lines = 0 AND ABS(diff) > 1
            THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
          CAST(MAX(CASE WHEN no_lines = 0 THEN ABS(diff) END) AS BIGINT)
            AS max_abs_diff_cents
        FROM j GROUP BY 1"""),
      (s, d) => {
        val l = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax")) * 100, 0).cast("long"))
            .cast("long").as("line_cents"))
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100, 0).cast("long")
              .as("order_cents"))
        o.join(l, col("l_orderkey") === col("o_orderkey"), "left_outer")
          .withColumn("no_lines",
            when(col("l_orderkey").isNull, 1L).otherwise(0L))
          .withColumn("diff",
            col("order_cents") - coalesce(col("line_cents"), lit(0L)))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("no_lines")).cast("long").as("n_no_lines"),
            sum(when(col("no_lines") === 0 && abs(col("diff")) > 1, 1L)
              .otherwise(0L)).as("n_mismatched"),
            max(when(col("no_lines") === 0, abs(col("diff")))).cast("long")
              .as("max_abs_diff_cents"))
      }),

    // ---- ABC inventory classification ---------------------------------------
    // The classic Pareto split of a catalog by revenue: A = parts
    // covering the top 80% of cumulative revenue, B = next 15%, C = the
    // tail. Revenue is exact cents per part (one partial-agg shuffle).
    // The catalog scales with data, so the Pareto prefix sum must NOT be a
    // single-task global window: it is operators.BlockScan on the negated
    // revenue block (g = -(rev div 2^20), so (g, rev desc, partkey) is the
    // same total order as (rev desc, partkey)). Class shares are
    // int64->double divides against a broadcast total. Cut order is total
    // (revenue desc, partkey) so the classes are a deterministic function of
    // the data.
    QuerySpec(
      "q176_abc_class",
      Some("""WITH r AS (SELECT l_partkey,
            CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM r),
        c AS (SELECT l_partkey, rev,
            CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS BIGINT)
              AS cum, tot
          FROM r, t),
        k AS (SELECT CASE
            WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.80 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class, rev, tot
          FROM c)
        SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
          CAST(SUM(rev) AS BIGINT) AS revenue_cents,
          CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
            AS revenue_share
        FROM k GROUP BY 1"""),
      (s, d) => {
        val blockBits = 20
        val r = t(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long").as("rev"))
          .cache() // |catalog| rows; feeds the total AND the running sum
        val tot = r.agg(sum(col("rev")).cast("long").as("tot"))
        val share = col("cum").cast("double") / col("tot").cast("double")
        // the negated block key turns descending revenue into ascending g
        BlockScan.runningSums(r, -expr(s"rev div ${1L << blockBits}"),
            Seq(col("rev").desc, col("l_partkey")), Seq("cum" -> col("rev")))
          .crossJoin(broadcast(tot)) // 1-row scalar total
          .withColumn("abc_class",
            when(share <= 0.80, "A").when(share <= 0.95, "B")
              .otherwise("C"))
          .groupBy(col("abc_class"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rev")).cast("long").as("revenue_cents"),
            (sum(col("rev")).cast("double") / max(col("tot")).cast("double"))
              .as("revenue_share"))
      }),

    // ---- percent-of-parent hierarchy rollup ---------------------------------
    // The drill-down report shape: revenue by (region, nation) where each
    // nation carries its share of the REGION subtotal, not the grand
    // total. `customer` scales with the fact tables (150k × SF rows), so
    // it must NOT broadcast: orders pre-aggregate to customer grain
    // (map-side partial agg shrinks the fact before its only shuffle),
    // then a sort-merge join on the shared custkey — the `merge` hint
    // pins that shape at test scale where size stats would flip it to a
    // broadcast that OOMs at the 100 TB target. Only nation/region (25-
    // and 5-row true dims) broadcast. Revenue lands on the exact cents
    // grid, and the parent subtotal is a window over the |nations|-row
    // aggregate — group-grain only. Shares are single int64->double
    // divides.
    QuerySpec(
      "q179_pct_of_parent",
      Some("""WITH rev AS (SELECT r.r_name AS region, n.n_name AS nation,
            CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          GROUP BY 1, 2),
        w AS (SELECT region, nation, cents,
            CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT)
              AS region_cents
          FROM rev)
        SELECT region, nation, cents,
          region_cents,
          CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE)
            AS pct_of_region
        FROM w"""),
      (s, d) => {
        val perCust = t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cust_cents"))
        val rev = perCust
          .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey")).hint("merge"),
            col("c_custkey") === col("o_custkey"))
          .join(broadcast(t(s, d, "nation")),
            col("n_nationkey") === col("c_nationkey"))
          .join(broadcast(t(s, d, "region")),
            col("r_regionkey") === col("n_regionkey"))
          .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(sum(col("cust_cents")).cast("long").as("cents"))
        val wReg = Window.partitionBy(col("region"))
        rev
          .withColumn("region_cents",
            sum(col("cents")).over(wReg).cast("long"))
          .select(col("region"), col("nation"), col("cents"),
            col("region_cents"),
            (col("cents").cast("double") / col("region_cents").cast("double"))
              .as("pct_of_region"))
      }),

    // ---- linear multi-touch attribution -------------------------------------
    // q127 gives the last CLICK all the credit; this is the other standard
    // model: a purchase's value splits evenly across every touch (click or
    // view) inside the lookback window, so per purchase the click channel
    // earns value·nc/(nc+nv) and the view channel value·nv/(nc+nv). The
    // touch counts come from two conditional RANGE windows over the
    // user's ms-ordered events — NO purchase×touch join, so a hot user
    // costs one window pass, not a fan-out. Shape: ONE user_id exchange
    // shared by both windows, then a per-user rollup. Determinism: counts
    // are exact ints; each credit is the same two-op IEEE tree (mul then
    // div) on both engines; credits sum on the decimal grid.
    QuerySpec(
      "q180_linear_attribution",
      Some(s"""WITH e AS (SELECT user_id, event_type, value,
            epoch_ms(ts) AS ms FROM events),
        w AS (SELECT user_id, event_type, value,
            CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
              OVER win AS BIGINT) AS nc,
            CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
              OVER win AS BIGINT) AS nv
          FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ms
            RANGE BETWEEN $AttrWindowMs PRECEDING AND 1 PRECEDING))
        SELECT user_id, COUNT(*) AS n_purchases,
          ${Exact.sqlDsum("CASE WHEN nc + nv > 0 THEN (value * CAST(nc AS "
            + "DOUBLE)) / CAST(nc + nv AS DOUBLE) ELSE 0.0 END")}
            AS click_credit,
          ${Exact.sqlDsum("CASE WHEN nc + nv > 0 THEN (value * CAST(nv AS "
            + "DOUBLE)) / CAST(nc + nv AS DOUBLE) ELSE 0.0 END")}
            AS view_credit,
          ${Exact.sqlDsum("CASE WHEN nc + nv = 0 THEN value ELSE 0.0 END")}
            AS unattributed
        FROM w WHERE event_type = 'purchase' GROUP BY user_id"""),
      (s, d) => {
        val win = Window.partitionBy(col("user_id")).orderBy(col("ms"))
          .rangeBetween(-AttrWindowMs, -1)
        val nt = (col("nc") + col("nv")).cast("double")
        t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
          .withColumn("nc",
            count(when(col("event_type") === "click", 1)).over(win))
          .withColumn("nv",
            count(when(col("event_type") === "view", 1)).over(win))
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            Exact.dsum(when(col("nc") + col("nv") > 0,
              (col("value") * col("nc").cast("double")) / nt)
              .otherwise(0.0)).as("click_credit"),
            Exact.dsum(when(col("nc") + col("nv") > 0,
              (col("value") * col("nv").cast("double")) / nt)
              .otherwise(0.0)).as("view_credit"),
            Exact.dsum(when(col("nc") + col("nv") === 0, col("value"))
              .otherwise(0.0)).as("unattributed"))
      }),

    // ---- period-over-period growth ------------------------------------------
    // The month-over-month / year-over-year report: monthly revenue on the
    // exact cents grid, then lag-1 and lag-12 growth rates. The fact table
    // collapses to the |months| grain in ONE partial-agg shuffle; the lag
    // windows run over that bounded frame only (~84 months at any SF —
    // group-grain, the GuardSpec rule). Growth is a sub-div pair of IEEE
    // ops on exact int64→double converts, NULL for the months without a
    // comparison period (and for a zero base, symmetrically both sides).
    QuerySpec(
      "q181_growth_rates",
      Some("""WITH m AS (SELECT CAST(date_trunc('month', o_orderdate)
              AS DATE) AS month,
            CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1)
        SELECT month, cents,
          lag(cents, 1) OVER w AS prev_cents,
          lag(cents, 12) OVER w AS yoy_cents,
          CASE WHEN lag(cents, 1) OVER w IS NOT NULL
              AND lag(cents, 1) OVER w != 0 THEN
            (CAST(cents AS DOUBLE) - CAST(lag(cents, 1) OVER w AS DOUBLE))
              / CAST(lag(cents, 1) OVER w AS DOUBLE) END AS mom_growth,
          CASE WHEN lag(cents, 12) OVER w IS NOT NULL
              AND lag(cents, 12) OVER w != 0 THEN
            (CAST(cents AS DOUBLE) - CAST(lag(cents, 12) OVER w AS DOUBLE))
              / CAST(lag(cents, 12) OVER w AS DOUBLE) END AS yoy_growth
        FROM m WINDOW w AS (ORDER BY month)"""),
      (s, d) => {
        val m = t(s, d, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
            .as("month"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val w = Window.orderBy(col("month"))
        def growth(prev: Column): Column =
          when(prev.isNotNull && prev =!= 0,
            (col("cents").cast("double") - prev.cast("double"))
              / prev.cast("double"))
        m.withColumn("prev_cents", lag(col("cents"), 1).over(w))
          .withColumn("yoy_cents", lag(col("cents"), 12).over(w))
          .select(col("month"), col("cents"), col("prev_cents"),
            col("yoy_cents"),
            growth(col("prev_cents")).as("mom_growth"),
            growth(col("yoy_cents")).as("yoy_growth"))
      }),

    // ---- surrogate-key generation + collision audit -------------------------
    // The data-vault/warehouse loader step: derive a deterministic hash
    // surrogate key from the composite natural key (hash keys, not
    // sequences — sequences need a single point of coordination, hashes
    // scale embarrassingly), then AUDIT the key space: collision count
    // (distinct natural keys per surrogate > 1 — with a 60-bit key space
    // expected 0, but the audit is what makes the loader safe to run
    // unattended) and bucket-occupancy skew over the top 10 hash bits
    // (1024 buckets — whether any downstream partition-by-key would run
    // hot). One shuffle on the surrogate; the audit output is one row.
    QuerySpec(
      "q204_surrogate_keys",
      {
        import graft.functions.Portable
        Some(s"""WITH k AS (SELECT ${Portable.h64Duck(
              "'sk:' || CAST(l_orderkey AS VARCHAR) || '|' "
                + "|| CAST(l_linenumber AS VARCHAR)")} AS sk
            FROM lineitem),
          pk AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS n_nat
            FROM k GROUP BY 1),
          bk AS (SELECT sk >> 50 AS bucket,
              CAST(COUNT(*) AS BIGINT) AS occ,
              CAST(SUM(n_nat) AS BIGINT) AS rows_in
            FROM pk GROUP BY 1)
          SELECT CAST(SUM(rows_in) AS BIGINT) AS n_rows,
            CAST(SUM(occ) AS BIGINT) AS n_keys,
            CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_buckets_used,
            CAST(MAX(occ) AS BIGINT) AS max_bucket_occ,
            (SELECT CAST(COALESCE(SUM(CASE WHEN n_nat > 1 THEN 1 ELSE 0
              END), 0) AS BIGINT) FROM pk) AS n_collisions
          FROM bk""")
      },
      (s, d) => {
        import graft.functions.Portable
        val k = t(s, d, "lineitem").select(
          expr(Portable.h64Spark(
            "concat('sk:', cast(l_orderkey as string), '|', "
              + "cast(l_linenumber as string))")).as("sk"))
        val pk = k.groupBy(col("sk")).agg(count(lit(1)).as("n_nat"))
          .cache() // surrogate grain feeds the bucket AND collision audits
        val bk = pk.groupBy(shiftright(col("sk"), 50).as("bucket"))
          .agg(count(lit(1)).as("occ"),
            sum(col("n_nat")).cast("long").as("rows_in"))
        val coll = pk.agg(coalesce(
            sum(when(col("n_nat") > 1, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_collisions"))
        bk.agg(sum(col("rows_in")).cast("long").as("n_rows"),
            sum(col("occ")).cast("long").as("n_keys"),
            sum(when(col("occ") > 0, 1L).otherwise(0L)).cast("long")
              .as("n_buckets_used"),
            max(col("occ")).cast("long").as("max_bucket_occ"))
          .crossJoin(broadcast(coll))
      }),

    // ---- small-file compaction planner -------------------------------------
    // The lakehouse table-maintenance step: given a partition's file
    // inventory (simulated here as (ship-month, suppkey mod 16) files
    // sized by row count), produce the bin-pack plan an OPTIMIZE job
    // executes — files ordered largest-first inside each partition, then
    // greedily packed into target bins of 256 rows by cumulative-sum
    // division (the sorted-greedy approximation real compactors use;
    // oversized files overflow their own bin rather than splitting).
    // bin = (cumsum - size) // target on non-negative integers, so both
    // engines' divisions agree. Output is the per-bin work order.
    // 100 TB plan: the file inventory is metadata-grain (files, not
    // rows): one partial agg builds it, and the pack window partitions
    // by ship-month with per-partition width bounded by the file-count
    // cap (16 here) — never a data-sized frame.
    QuerySpec(
      "q224_compaction_plan",
      Some("""WITH f AS (SELECT CAST(date_trunc('month', l_shipdate)
              AS DATE) AS mon,
            l_suppkey % 16 AS file_id,
            CAST(COUNT(*) AS BIGINT) AS size_rows
          FROM lineitem GROUP BY 1, 2),
        pk AS (SELECT mon, file_id, size_rows,
            SUM(size_rows) OVER (PARTITION BY mon
              ORDER BY size_rows DESC, file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
          FROM f),
        asg AS (SELECT mon, file_id, size_rows,
            CAST((csum - size_rows) // 256 AS BIGINT) AS bin FROM pk)
        SELECT mon, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
          CAST(SUM(size_rows) AS BIGINT) AS bin_rows,
          CAST(MAX(size_rows) AS BIGINT) AS largest_file,
          CAST(MIN(file_id) AS BIGINT) AS first_file
        FROM asg GROUP BY 1, 2"""),
      (s, d) => {
        val f = t(s, d, "lineitem")
          .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
            .as("mon"),
            (col("l_suppkey") % 16).as("file_id"))
          .agg(count(lit(1)).as("size_rows"))
        val w = Window.partitionBy(col("mon"))
          .orderBy(col("size_rows").desc, col("file_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        f.withColumn("csum", sum(col("size_rows")).over(w))
          .withColumn("bin", expr("(csum - size_rows) div 256"))
          .groupBy(col("mon"), col("bin"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("size_rows")).cast("long").as("bin_rows"),
            max(col("size_rows")).cast("long").as("largest_file"),
            min(col("file_id")).cast("long").as("first_file"))
      }),

    // ---- U-shaped (position-based) multi-touch attribution -----------------
    // The third attribution model next to q127 (last-touch) and q180
    // (linear): 40% of a user's conversion value to the FIRST touch, 40%
    // to the LAST, the remaining 20% split across the middles (n=1 ->
    // 100%, n=2 -> 50/50 — the standard degenerate cases). Positions come
    // from one user-partitioned rank window with (ms, event_id) as the
    // total order; weights are pinned rationals; per-channel credit sums
    // on the decimal grid. 100 TB plan: ONE user_id exchange shared by
    // the window pair, a user-keyed join against the per-user conversion
    // aggregate, and a |channels|-row rollup. Credit covers users with
    // >= 1 touch (a touchless purchase has no position to credit).
    QuerySpec(
      "q242_position_attribution",
      Some(s"""WITH tv AS (SELECT user_id,
            ${Exact.sqlDsum("value")} AS conv
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        tc AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
          FROM events WHERE event_type IN ('click', 'view')),
        pos AS (SELECT user_id, event_type,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ms, event_id) AS p,
            COUNT(*) OVER (PARTITION BY user_id) AS nt
          FROM tc),
        w AS (SELECT user_id, event_type,
            CASE WHEN nt = 1 THEN 1.0
              WHEN p = 1 OR p = nt THEN
                CASE WHEN nt = 2 THEN 0.5 ELSE 0.4 END
              ELSE 0.2 / CAST(nt - 2 AS DOUBLE) END AS wt
          FROM pos),
        j AS (SELECT w.event_type, w.wt * tv.conv AS credit
          FROM w JOIN tv ON w.user_id = tv.user_id)
        SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
          round(${Exact.sqlDsum("credit")}, 4) AS credit
        FROM j GROUP BY 1"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val tv = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(Exact.dsum(col("value")).as("conv"))
        val uw = Window.partitionBy(col("user_id"))
          .orderBy(col("ms"), col("event_id"))
        val cw = Window.partitionBy(col("user_id"))
        val pos = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
          .withColumn("p", row_number().over(uw))
          .withColumn("nt", count(lit(1)).over(cw))
        val w = pos.select(col("user_id"), col("event_type"),
          when(col("nt") === 1, 1.0)
            .when(col("p") === 1 || col("p") === col("nt"),
              when(col("nt") === 2, 0.5).otherwise(0.4))
            .otherwise(lit(0.2) / (col("nt") - 2).cast("double")).as("wt"))
        w.join(tv, Seq("user_id"))
          .select(col("event_type"), (col("wt") * col("conv")).as("credit"))
          .groupBy(col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_touches"),
            round(Exact.dsum(col("credit")), 4).as("credit"))
      }),

    // ---- top-k share movers (period-over-period) ---------------------------
    // Which product types gained or lost revenue share between the two
    // halves of the observation window — the "movers" report a category
    // manager reads before the absolute-revenue one (share deltas are
    // mix-adjusted). Revenue rides the exact cents grid; shares and the
    // delta are pinned int64->double divides; the pick is TakeOrdered by
    // |delta| with p_type as tie-break. 100 TB plan: lineitem joins
    // orders co-partitioned on the order key and part on the part key
    // (both fact-scaled — shuffle joins, never broadcast); everything
    // after lives on the bounded |p_type| grain.
    QuerySpec(
      "q246_topk_movers",
      Some("""WITH f AS (SELECT p.p_type,
            CASE WHEN o.o_orderdate < TIMESTAMP '1998-07-01' THEN 0
              ELSE 1 END AS per,
            CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN part p ON l.l_partkey = p.p_partkey),
        r AS (SELECT p_type, per, CAST(SUM(cents) AS BIGINT) AS c
          FROM f GROUP BY 1, 2),
        s AS (SELECT p_type,
            CAST(SUM(CASE WHEN per = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
            CAST(SUM(CASE WHEN per = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
          FROM r GROUP BY 1),
        tt AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0,
            CAST(SUM(c1) AS BIGINT) AS t1 FROM s),
        m AS (SELECT p_type, c0, c1,
            CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE)
              - CAST(c0 AS DOUBLE) / CAST(t0 AS DOUBLE) AS dshare
          FROM s, tt)
        SELECT p_type, c0 AS cents_a, c1 AS cents_b,
          round(dshare, 6) AS share_delta
        FROM m ORDER BY abs(dshare) DESC, p_type LIMIT 10"""),
      (s, d) => {
        val f = t(s, d, "lineitem")
          .join(t(s, d, "orders").select(col("o_orderkey"),
            col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "part").select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_type"),
            when(col("o_orderdate") < lit("1998-07-01").cast("timestamp"),
              0L).otherwise(1L).as("per"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        val r = f.groupBy(col("p_type"), col("per"))
          .agg(sum(col("cents")).as("c"))
        val sdf = r.groupBy(col("p_type"))
          .agg(sum(when(col("per") === 0, col("c")).otherwise(0L)).as("c0"),
            sum(when(col("per") === 1, col("c")).otherwise(0L)).as("c1"))
          .cache() // bounded |p_type| grain; feeds the totals too
        val tt = sdf.agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
        val m = sdf.crossJoin(broadcast(tt)) // 1-row totals
          .select(col("p_type"), col("c0"), col("c1"),
            (col("c1").cast("double") / col("t1").cast("double")
              - col("c0").cast("double") / col("t0").cast("double"))
              .as("dshare"))
        m.orderBy(abs(col("dshare")).desc, col("p_type")).limit(10)
          .select(col("p_type"), col("c0").as("cents_a"),
            col("c1").as("cents_b"), round(col("dshare"), 6).as("share_delta"))
      }),

    // ---- snapshot diff with per-column change accounting -------------------
    // q161 diffs two slices of one fact on a composite key with a net
    // value delta; this is the TABLE-VERSION form a CDC pipeline runs:
    // a primary-keyed snapshot against its successor (which here also
    // carries INSERTED keys, not just filter-window drift), classified
    // added / removed / changed / unchanged with PER-COLUMN change
    // counts — the column-level delta sizing q161 doesn't report. The second snapshot is DERIVED deterministically
    // in-query (drop keys % 97, bump price on % 101, flip status on
    // % 103, re-key % 89 as inserts) so both engines diff identical
    // versions. Prices compare on the exact cents grid. 100 TB shape:
    // one key-keyed full-outer sort-merge join of the two snapshot
    // scans, then a 4-group partial agg — no window, no sort.
    QuerySpec(
      "q358_snapshot_diff",
      Some("""WITH v1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders),
        v2 AS (
          SELECT k + (CAST(1 AS BIGINT) << 40) AS k, st, cents
          FROM v1 WHERE k % 89 = 0
          UNION ALL
          SELECT k,
            CASE WHEN k % 103 = 0 THEN 'X' ELSE st END AS st,
            CASE WHEN k % 101 = 0 THEN cents + 100 ELSE cents END AS cents
          FROM v1 WHERE k % 97 <> 0),
        d AS (SELECT
            CASE WHEN v1.k IS NULL THEN 'added'
                 WHEN v2.k IS NULL THEN 'removed'
                 WHEN v1.st <> v2.st OR v1.cents <> v2.cents THEN 'changed'
                 ELSE 'unchanged' END AS class,
            CASE WHEN v1.k IS NOT NULL AND v2.k IS NOT NULL
              AND v1.cents <> v2.cents THEN 1 ELSE 0 END AS pc,
            CASE WHEN v1.k IS NOT NULL AND v2.k IS NOT NULL
              AND v1.st <> v2.st THEN 1 ELSE 0 END AS sc
          FROM v1 FULL JOIN v2 ON v2.k = v1.k)
        SELECT class, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(pc) AS BIGINT) AS n_price_changed,
          CAST(SUM(sc) AS BIGINT) AS n_status_changed
        FROM d GROUP BY 1"""),
      (s, d) => {
        val v1 = t(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        // insert re-key offset is a HIGH BIT (2^40), not a decimal
        // constant: o_orderkey grows with sf and a 1e8 offset collides
        // with real keys around sf16, silently reclassifying 'added'
        // rows — 2^40 stays clear of any realistic key space.
        val v2 = v1.filter(col("k") % 89 === 0)
          .select((col("k") + (1L << 40)).as("k"), col("st"), col("cents"))
          .unionAll(v1.filter(col("k") % 97 =!= 0)
            .select(col("k"),
              when(col("k") % 103 === 0, "X").otherwise(col("st")).as("st"),
              when(col("k") % 101 === 0, col("cents") + 100)
                .otherwise(col("cents")).as("cents")))
        val a = v1.select(col("k"), col("st").as("st1"),
          col("cents").as("c1"))
        val b = v2.select(col("k"), col("st").as("st2"),
          col("cents").as("c2"))
        a.join(b, Seq("k"), "full_outer")
          .select(
            when(col("st1").isNull && col("c1").isNull, "added")
              .when(col("st2").isNull && col("c2").isNull, "removed")
              .when(col("st1") =!= col("st2") || col("c1") =!= col("c2"),
                "changed")
              .otherwise("unchanged").as("class"),
            when(col("c1").isNotNull && col("c2").isNotNull
              && col("c1") =!= col("c2"), 1L).otherwise(0L).as("pc"),
            when(col("st1").isNotNull && col("st2").isNotNull
              && col("st1") =!= col("st2"), 1L).otherwise(0L).as("sc"))
          .groupBy(col("class"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("pc")).as("n_price_changed"),
            sum(col("sc")).as("n_status_changed"))
      }),

    // ---- k-anonymity / l-diversity audit (release-gate privacy) ------------
    // The privacy audit a dataset passes BEFORE leaving the curation
    // boundary (q150 scrubs values; this measures re-identification
    // risk): group rows by the quasi-identifier tuple
    // (nation, market segment), measure group size against k = 10 and
    // the diversity of the sensitive attribute (in-debt flag) against
    // l = 2, and report the LEVEL of the generalization lattice at
    // which each group first satisfies k — 0 = raw QI tuple, 1 = drop
    // the segment (nation only), 2 = fully generalized. That ladder is
    // the actionable output: it tells the releaser how much coarsening
    // each cell needs. Shape: one partial-agg shuffle at the bounded
    // QI grain (|nations| x |segments|), a nation-grain rollup joined
    // back broadcast — nothing corpus-sized after the first agg.
    QuerySpec(
      "q361_k_anonymity",
      Some("""WITH g AS (SELECT c_nationkey AS nation,
            c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS l_div
          FROM customer GROUP BY 1, 2),
        gn AS (SELECT nation, CAST(SUM(n) AS BIGINT) AS n_nation
          FROM g GROUP BY 1)
        SELECT g.nation, g.seg, g.n, g.l_div,
          CAST(CASE WHEN g.n >= 10 THEN 0
            WHEN gn.n_nation >= 10 THEN 1 ELSE 2 END AS INT) AS k_level,
          (g.l_div < 2) AS l_violation
        FROM g JOIN gn USING (nation)"""),
      (s, d) => {
        val g = t(s, d, "customer")
          .groupBy(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n"),
            countDistinct(when(col("c_acctbal") < 0, 1).otherwise(0))
              .as("l_div"))
        val gn = g.groupBy(col("nation"))
          .agg(sum(col("n")).as("n_nation"))
        g.join(broadcast(gn), Seq("nation"))
          .select(col("nation"), col("seg"), col("n"), col("l_div"),
            when(col("n") >= 10, 0)
              .when(col("n_nation") >= 10, 1).otherwise(2)
              .cast("int").as("k_level"),
            (col("l_div") < 2).as("l_violation"))
      }),

    // ---- small-file compaction planner -------------------------------------
    // The lakehouse maintenance decision behind OPTIMIZE/rewriteDataFiles:
    // model each (ship-month partition, ship-day file) as one written
    // file whose bytes are the exact sum of its rows' modeled widths
    // (64-byte fixed footprint + a price-derived variable part — the
    // fixture carries no raw payload column, so the width model is
    // pinned identically in both engines), then per partition report
    // the file count, total bytes,
    // how many files sit under the 256 KB small-file threshold, the
    // TARGET file count at the 1 MB goal size (exact ceiling division),
    // and the files saved by compacting. This readout — not the rewrite
    // itself — is what a table service schedules from; at 100 TB the
    // file-stats grain ((month, day) partial agg) is millions of rows,
    // the partition rollup thousands, both shuffles bounded and
    // pushdown-friendly. All integer arithmetic.
    QuerySpec(
      "q366_compaction_planner",
      Some("""WITH fs AS (SELECT strftime(l_shipdate, '%Y-%m') AS part,
            CAST(l_shipdate AS DATE) AS file_day,
            CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
              % 221 + 64) AS BIGINT) AS bytes
          FROM lineitem GROUP BY 1, 2)
        SELECT part, CAST(COUNT(*) AS BIGINT) AS n_files,
          CAST(SUM(bytes) AS BIGINT) AS total_bytes,
          CAST(COUNT(CASE WHEN bytes < 262144 THEN 1 END) AS BIGINT)
            AS n_small_files,
          CAST((SUM(bytes) + 1048575) // 1048576 AS BIGINT)
            AS target_files,
          CAST(GREATEST(COUNT(*) - (SUM(bytes) + 1048575) // 1048576, 0)
            AS BIGINT) AS files_saved
        FROM fs GROUP BY 1"""),
      (s, d) => {
        val fs = t(s, d, "lineitem")
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("part"),
            col("l_shipdate").cast("date").as("file_day"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")
            % 221 + 64).cast("long").as("bytes"))
        fs.groupBy(col("part"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("bytes")).as("total_bytes"),
            count(when(col("bytes") < 262144, 1)).as("n_small_files"),
            expr("(sum(bytes) + 1048575) div 1048576").as("target_files"),
            greatest(count(lit(1))
              - expr("(sum(bytes) + 1048575) div 1048576"), lit(0L))
              .as("files_saved"))
      })
  )
}
