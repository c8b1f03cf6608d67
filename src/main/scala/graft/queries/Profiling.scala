package graft.queries

import graft.Tables
import graft.functions.Portable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dataset health operators: distribution drift, membership sketches,
  * and column profiling — the checks a curation pipeline runs BEFORE
  * trusting a new data drop.
  *
  * Same exactness contract as Quality.scala's sketches: all aggregate
  * state is integer (portable hashes, counts), so even the Bloom filter's
  * bit set and the drift scores hash-match the DuckDB oracle rather than
  * being "approximate therefore unchecked".
  */
object Profiling {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Bloom geometry: m bits, k hash functions. 16 Ki bits is 2 KiB of
    * state — the filter is ALWAYS broadcastable no matter how many keys
    * fed it (the point of the sketch); k=3 keeps the probe cost flat.
    */
  private val BloomM = 16384
  private val BloomK = 3

  /** Key-set predicate for the Bloom build: urgent big-ticket orderers
    * (~1/3 of customers at sf0.01) — selective enough that the probe side
    * has real negatives, so the false-positive accounting is exercised.
    */
  private val BloomMinPrice = 400000

  val all: Seq[QuerySpec] = Seq(

    // ---- corpus distribution drift (TVD over exact rationals) ---------------
    // "Did the language mix shift between two corpus slices?" — the
    // gate a training-data pipeline runs on every new crawl drop. The
    // per-class drift |pA - pB| is kept as the EXACT integer numerator
    // |na*tb - nb*ta| (common denominator ta*tb cleared) — no float
    // compare, no log (the usual KL formulation is engine-divergent in
    // the last ulp; total-variation distance needs only products of
    // counts). Shares are published as one int64->double divide each.
    // 100 TB posture: one partial-agg shuffle bounded by |langs| rows;
    // the totals row broadcasts back. Overflow: na*tb < corpus^2 — move
    // the numerator to DECIMAL(38,0) past ~3e9 rows/slice.
    QuerySpec(
      "q138_dist_drift",
      Some("""WITH h AS (SELECT lang, doc_id % 2 AS half FROM documents),
        c AS (SELECT lang,
            CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
          FROM h GROUP BY 1),
        tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
            CAST(SUM(nb) AS BIGINT) AS tb FROM c)
        SELECT lang, na AS n_first, nb AS n_second,
          CAST(abs(na * tb - nb * ta) AS BIGINT) AS drift_num,
          CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) AS share_first,
          CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE) AS share_second
        FROM c, tot"""),
      (s, d) => {
        val h = t(s, d, "documents")
          .select(col("lang"), (col("doc_id") % 2).as("half"))
        val c = h.groupBy(col("lang")).agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
        val tot = c.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
        c.crossJoin(broadcast(tot))
          .select(col("lang"), col("na").as("n_first"),
            col("nb").as("n_second"),
            abs(col("na") * col("tb") - col("nb") * col("ta"))
              .cast("long").as("drift_num"),
            (col("na").cast("double") / col("ta").cast("double"))
              .as("share_first"),
            (col("nb").cast("double") / col("tb").cast("double"))
              .as("share_second"))
      }),

    // ---- Bloom filter as relational algebra ---------------------------------
    // The CMS (q131) / HLL (q134) treatment applied to set membership:
    // k portable hashes set bits in an m-bit filter, and BOTH the built
    // bit-set cardinality and every probe verdict are exact relational
    // values the oracle replays — including the sketch's defining
    // asymmetry, checked as data: false_negatives is structurally 0,
    // false_positives is whatever the geometry earns (1 at sf0.01).
    // Shape: build = distinct-key projection x k hashes -> <= m distinct
    // bit rows (ONE shuffle bounded by m regardless of input); probe =
    // broadcast the <= m-row bit table against the probe side, count
    // hits per key, a key passes iff all k bits present. Truth side is
    // a broadcast left join on the (already distinct) key set.
    QuerySpec(
      "q139_bloom", {
        val hk = Portable.h64Duck(
          "CAST(key AS VARCHAR) || '#' || CAST(i AS VARCHAR)")
        val hp = Portable.h64Duck(
          "CAST(c_custkey AS VARCHAR) || '#' || CAST(i AS VARCHAR)")
        Some(s"""WITH keys AS (SELECT DISTINCT o_custkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND o_totalprice > $BloomMinPrice),
          bits AS (SELECT DISTINCT ($hk) % $BloomM AS pos
            FROM keys, (SELECT unnest(range(0, $BloomK)) AS i) z),
          probe AS (SELECT c_custkey, ($hp) % $BloomM AS pos
            FROM customer, (SELECT unnest(range(0, $BloomK)) AS i) z),
          hits AS (SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS nhit
            FROM probe JOIN bits USING (pos) GROUP BY 1),
          verdict AS (SELECT c.c_custkey,
              (COALESCE(h.nhit, 0) = $BloomK) AS bloom_pos,
              EXISTS (SELECT 1 FROM keys k WHERE k.key = c.c_custkey)
                AS truth
            FROM customer c LEFT JOIN hits h ON h.c_custkey = c.c_custkey)
          SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
            CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
            CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
              AS true_members,
            CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
              AS bloom_positives,
            CAST(SUM(CASE WHEN bloom_pos AND NOT truth THEN 1 ELSE 0 END)
              AS BIGINT) AS false_positives,
            CAST(SUM(CASE WHEN NOT bloom_pos AND truth THEN 1 ELSE 0 END)
              AS BIGINT) AS false_negatives
          FROM verdict""")
      },
      (s, d) => {
        val hk = Portable.h64Spark(
          "concat(cast(key as string), '#', cast(i as string))")
        val hp = Portable.h64Spark(
          "concat(cast(c_custkey as string), '#', cast(i as string))")
        val keys = t(s, d, "orders")
          .where(col("o_orderpriority") === "1-URGENT"
            && col("o_totalprice") > BloomMinPrice)
          .select(col("o_custkey").as("key")).distinct()
          .cache() // feeds bits, the truth join, and n_keys
        val bits = keys
          .select(col("key"),
            explode(expr(s"sequence(0, ${BloomK - 1})")).as("i"))
          .select(expr(s"($hk) % $BloomM").as("pos")).distinct()
          .cache() // probe join + bits_set count
        val cust = t(s, d, "customer").select(col("c_custkey"))
        val probe = cust
          .select(col("c_custkey"),
            explode(expr(s"sequence(0, ${BloomK - 1})")).as("i"))
          .withColumn("pos", expr(s"($hp) % $BloomM"))
        val hits = probe.join(broadcast(bits), "pos")
          .groupBy(col("c_custkey")).agg(count(lit(1)).as("nhit"))
        val verdict = cust
          .join(hits, Seq("c_custkey"), "left")
          .join(broadcast(keys.withColumn("truth", lit(true))),
            col("c_custkey") === col("key"), "left")
          .select(
            (coalesce(col("nhit"), lit(0L)) === BloomK).as("bloom_pos"),
            coalesce(col("truth"), lit(false)).as("truth"))
        verdict.agg(
          sum(when(col("truth"), 1L).otherwise(0L)).as("true_members"),
          sum(when(col("bloom_pos"), 1L).otherwise(0L))
            .as("bloom_positives"),
          sum(when(col("bloom_pos") && !col("truth"), 1L).otherwise(0L))
            .as("false_positives"),
          sum(when(!col("bloom_pos") && col("truth"), 1L).otherwise(0L))
            .as("false_negatives"))
          .crossJoin(broadcast(keys.agg(count(lit(1)).as("n_keys"))))
          .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
          .select(col("n_keys"), col("bits_set"), col("true_members"),
            col("bloom_positives"), col("false_positives"),
            col("false_negatives"))
      }),

    // ---- column profiler (one-scan, stacked) --------------------------------
    // The per-column statistics block every warehouse publishes next to a
    // table: row count, null count, distinct count, min/max — numerics
    // (and epoch-ms timestamps) in min_num/max_num, strings in
    // min_str/max_str (doubles are never RENDERED to strings: the two
    // engines' float formatting differs, their float VALUES don't).
    // Shape: ONE scan computing all 26 aggregates in a single
    // partial+final pass, then a row-generating stack — the profile costs
    // one pass regardless of column count. Distinct counts are the only
    // non-sketch term (each a hash agg on the column's values); at true
    // 100 TB scale those swap for the q134 HLL registers, same plumbing.
    QuerySpec(
      "q140_profile",
      Some("""WITH m AS (SELECT
          COUNT(*) AS n,
          COUNT(o_orderkey) AS nn_ok, COUNT(DISTINCT o_orderkey) AS nd_ok,
            CAST(MIN(o_orderkey) AS DOUBLE) AS mn_ok,
            CAST(MAX(o_orderkey) AS DOUBLE) AS mx_ok,
          COUNT(o_custkey) AS nn_ck, COUNT(DISTINCT o_custkey) AS nd_ck,
            CAST(MIN(o_custkey) AS DOUBLE) AS mn_ck,
            CAST(MAX(o_custkey) AS DOUBLE) AS mx_ck,
          COUNT(o_orderstatus) AS nn_st, COUNT(DISTINCT o_orderstatus) AS nd_st,
            MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st,
          COUNT(o_totalprice) AS nn_tp, COUNT(DISTINCT o_totalprice) AS nd_tp,
            MIN(o_totalprice) AS mn_tp, MAX(o_totalprice) AS mx_tp,
          COUNT(o_orderdate) AS nn_od, COUNT(DISTINCT o_orderdate) AS nd_od,
            CAST(epoch_ms(MIN(o_orderdate)) AS DOUBLE) AS mn_od,
            CAST(epoch_ms(MAX(o_orderdate)) AS DOUBLE) AS mx_od,
          COUNT(o_orderpriority) AS nn_op,
            COUNT(DISTINCT o_orderpriority) AS nd_op,
            MIN(o_orderpriority) AS mn_op, MAX(o_orderpriority) AS mx_op
        FROM orders)
      SELECT 'o_orderkey' AS col_name, CAST(n AS BIGINT) AS n,
        CAST(n - nn_ok AS BIGINT) AS n_null, CAST(nd_ok AS BIGINT) AS n_distinct,
        mn_ok AS min_num, mx_ok AS max_num,
        CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM m
      UNION ALL SELECT 'o_custkey', n, n - nn_ck, nd_ck, mn_ck, mx_ck,
        NULL, NULL FROM m
      UNION ALL SELECT 'o_orderstatus', n, n - nn_st, nd_st, NULL, NULL,
        mn_st, mx_st FROM m
      UNION ALL SELECT 'o_totalprice', n, n - nn_tp, nd_tp, mn_tp, mx_tp,
        NULL, NULL FROM m
      UNION ALL SELECT 'o_orderdate', n, n - nn_od, nd_od, mn_od, mx_od,
        NULL, NULL FROM m
      UNION ALL SELECT 'o_orderpriority', n, n - nn_op, nd_op, NULL, NULL,
        mn_op, mx_op FROM m"""),
      (s, d) => {
        val o = t(s, d, "orders")
        // Two aggregate passes, not one: a STRING min/max buffer in the
        // same aggregate as the six count-distincts forces the whole
        // 6x-Expand multi-distinct plan into SortAggregate (sort-based,
        // 5x slower at sf0.1). Keeping the numeric/distinct pass
        // string-free keeps it hash-aggregated; the string min/max pass
        // is a separate cheap scan whose 1-row result cross-joins back.
        val mNum = o.agg(
          count(lit(1)).as("n"),
          count(col("o_orderkey")).as("nn_ok"),
          countDistinct(col("o_orderkey")).as("nd_ok"),
          min(col("o_orderkey")).cast("double").as("mn_ok"),
          max(col("o_orderkey")).cast("double").as("mx_ok"),
          count(col("o_custkey")).as("nn_ck"),
          countDistinct(col("o_custkey")).as("nd_ck"),
          min(col("o_custkey")).cast("double").as("mn_ck"),
          max(col("o_custkey")).cast("double").as("mx_ck"),
          count(col("o_orderstatus")).as("nn_st"),
          countDistinct(col("o_orderstatus")).as("nd_st"),
          count(col("o_totalprice")).as("nn_tp"),
          countDistinct(col("o_totalprice")).as("nd_tp"),
          min(col("o_totalprice")).as("mn_tp"),
          max(col("o_totalprice")).as("mx_tp"),
          count(col("o_orderdate")).as("nn_od"),
          countDistinct(col("o_orderdate")).as("nd_od"),
          // o_orderdate loads as TIMESTAMP_NTZ (Tables.load); the session
          // is pinned UTC, so the NTZ->TIMESTAMP cast is the identity
          // instant mapping that epoch_ms applies on the DuckDB side.
          unix_millis(min(col("o_orderdate")).cast("timestamp"))
            .cast("double").as("mn_od"),
          unix_millis(max(col("o_orderdate")).cast("timestamp"))
            .cast("double").as("mx_od"),
          count(col("o_orderpriority")).as("nn_op"),
          countDistinct(col("o_orderpriority")).as("nd_op"))
        val mStr = o.agg(
          min(col("o_orderstatus")).as("mn_st"),
          max(col("o_orderstatus")).as("mx_st"),
          min(col("o_orderpriority")).as("mn_op"),
          max(col("o_orderpriority")).as("mx_op"))
        val m = mNum.crossJoin(broadcast(mStr))
        m.select(expr("""stack(6,
          'o_orderkey', n, n - nn_ok, nd_ok, mn_ok, mx_ok,
            cast(null as string), cast(null as string),
          'o_custkey', n, n - nn_ck, nd_ck, mn_ck, mx_ck,
            cast(null as string), cast(null as string),
          'o_orderstatus', n, n - nn_st, nd_st,
            cast(null as double), cast(null as double), mn_st, mx_st,
          'o_totalprice', n, n - nn_tp, nd_tp, mn_tp, mx_tp,
            cast(null as string), cast(null as string),
          'o_orderdate', n, n - nn_od, nd_od, mn_od, mx_od,
            cast(null as string), cast(null as string),
          'o_orderpriority', n, n - nn_op, nd_op,
            cast(null as double), cast(null as double), mn_op, mx_op)
          AS (col_name, n, n_null, n_distinct, min_num, max_num,
            min_str, max_str)"""))
      }),

    // ---- join-key skew profile ----------------------------------------------
    // The diagnostic run BEFORE choosing a join strategy at scale: the
    // per-key frequency distribution of a prospective join key. One
    // partial-agg shuffle to the |keys|-row count table; every statistic
    // after (max, quantiles of counts, hottest key) runs over |keys|
    // rows, never data. The hottest key is an argmax struct (count desc,
    // key asc — deterministic ties); skew_factor = max/avg is two exact
    // int64→double converts and two divides. The count quantiles run
    // through operators.Quantiles (block prefix sums — no single-buffer
    // percentile), so the plan survives 1e9+ distinct keys unchanged;
    // QuantilesSpec pins its bitwise agreement with quantile_cont.
    QuerySpec(
      "q159_key_skew",
      Some("""WITH c AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT)
            AS cnt FROM lineitem GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(cnt) AS BIGINT) AS n_rows,
          CAST(MAX(cnt) AS BIGINT) AS max_cnt,
          (SELECT k FROM c ORDER BY cnt DESC, k LIMIT 1) AS hottest_key,
          quantile_cont(cnt, 0.5) AS p50_cnt,
          quantile_cont(cnt, 0.99) AS p99_cnt,
          CAST(MAX(cnt) AS DOUBLE)
            / (CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
            AS skew_factor
        FROM c"""),
      (s, d) => {
        val c = t(s, d, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("cnt"))
          .cache() // |keys| rows; feeds the quantile pass AND the profile
        val cuts = graft.operators.Quantiles
          .exactQuantiles(c, col("cnt"), Seq(0.5, 0.99))
        c.agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).cast("long").as("n_rows"),
          max(col("cnt")).cast("long").as("max_cnt"),
          max(struct(col("cnt"), (-col("k")).as("nk"))).as("mx"))
          .crossJoin(broadcast(cuts)) // 1-row quantile cuts
          .select(col("n_keys"), col("n_rows"), col("max_cnt"),
            (-col("mx.nk")).cast("long").as("hottest_key"),
            col("cuts").getItem(0).as("p50_cnt"),
            col("cuts").getItem(1).as("p99_cnt"),
            (col("max_cnt").cast("double")
              / (col("n_rows").cast("double") / col("n_keys").cast("double")))
              .as("skew_factor"))
      }),

    // ---- IQR outlier fences (Tukey) -----------------------------------------
    // Per-group outlier audit: Tukey fences p25 ± 1.5·IQR over integer
    // cents. Quantiles interpolate identically in both engines on the
    // exact integer grid (the QuantilesSpec law); the fence arithmetic is
    // three single-rounded IEEE ops from those identical doubles; the
    // flag comparison is double-vs-exact-int — same decision both sides.
    // Shape: one quantile pass to |groups| rows, fences broadcast back,
    // one rollup. Counts + extreme values are exact integers.
    QuerySpec(
      "q160_iqr_outliers",
      Some("""WITH c AS (SELECT l_returnflag,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        q AS (SELECT l_returnflag,
            quantile_cont(cents, 0.25) AS p25,
            quantile_cont(cents, 0.75) AS p75
          FROM c GROUP BY 1),
        f AS (SELECT l_returnflag, p25, p75,
            p25 - 1.5 * (p75 - p25) AS lo,
            p75 + 1.5 * (p75 - p25) AS hi
          FROM q)
        SELECT c.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN cents < lo OR cents > hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
          CAST(MIN(CASE WHEN cents < lo OR cents > hi THEN cents END)
            AS BIGINT) AS min_outlier_cents,
          CAST(MAX(CASE WHEN cents < lo OR cents > hi THEN cents END)
            AS BIGINT) AS max_outlier_cents
        FROM c JOIN f USING (l_returnflag) GROUP BY 1"""),
      (s, d) => {
        val c = t(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        val f = c.groupBy(col("l_returnflag")).agg(
          expr("percentile(cents, 0.25)").as("p25"),
          expr("percentile(cents, 0.75)").as("p75"))
          .withColumn("lo", col("p25") - lit(1.5) * (col("p75") - col("p25")))
          .withColumn("hi", col("p75") + lit(1.5) * (col("p75") - col("p25")))
        val isOut = col("cents") < col("lo") || col("cents") > col("hi")
        c.join(broadcast(f), "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
            min(when(isOut, col("cents"))).cast("long")
              .as("min_outlier_cents"),
            max(when(isOut, col("cents"))).cast("long")
              .as("max_outlier_cents"))
      }),

    // ---- class-balance audit (label distribution) ---------------------------
    // The pre-training label audit: is the dataset balanced enough to
    // train on, or does one class dominate? Gini impurity comes from the
    // EXACT integer sum of squared counts with a single final divide
    // (1 - sum(c^2)/N^2) — never a sum of per-label double shares, whose
    // order-dependent rounding would drift between engines. One
    // |labels|-row aggregate after one partial-agg shuffle.
    QuerySpec(
      "q164_label_balance",
      Some("""WITH c AS (SELECT label, COUNT(*) AS cnt
          FROM embeddings GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
          CAST(SUM(cnt) AS BIGINT) AS n_rows,
          CAST(MAX(cnt) AS BIGINT) AS max_cnt,
          CAST(MIN(cnt) AS BIGINT) AS min_cnt,
          CAST(MAX(cnt) AS DOUBLE) / CAST(MIN(cnt) AS DOUBLE)
            AS imbalance,
          1.0 - CAST(SUM(cnt * cnt) AS DOUBLE)
            / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
            AS gini,
          CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
            AS top_share
        FROM c"""),
      (s, d) => {
        t(s, d, "embeddings")
          .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n_labels"),
            sum(col("cnt")).cast("long").as("n_rows"),
            max(col("cnt")).cast("long").as("max_cnt"),
            min(col("cnt")).cast("long").as("min_cnt"),
            (max(col("cnt")).cast("double") / min(col("cnt")).cast("double"))
              .as("imbalance"),
            (lit(1.0) - sum(col("cnt") * col("cnt")).cast("double")
              / (sum(col("cnt")).cast("double")
                 * sum(col("cnt")).cast("double"))).as("gini"),
            (max(col("cnt")).cast("double") / sum(col("cnt")).cast("double"))
              .as("top_share"))
      }),

    // ---- join-size forecast (self-join blowup predictor) --------------------
    // The planner math run BEFORE a self-join is allowed on a cluster:
    // |A join A on k| = sum over keys of c(k)^2. One partial-agg shuffle
    // to the key-count table, then |keys|-row statistics — the q159
    // companion (q159 profiles skew for a two-table join; this predicts
    // the quadratic self-join cost exactly). blowup = predicted rows per
    // input row, two exact int64->double converts + one divide.
    QuerySpec(
      "q169_join_forecast",
      Some("""WITH c AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT)
            AS c FROM lineitem GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(c) AS BIGINT) AS n_rows,
          CAST(SUM(c * c) AS BIGINT) AS predicted_pairs,
          CAST(MAX(c * c) AS BIGINT) AS max_key_pairs,
          CAST(SUM(c * c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS blowup
        FROM c"""),
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("c")).cast("long").as("n_rows"),
            sum(col("c") * col("c")).cast("long").as("predicted_pairs"),
            max(col("c") * col("c")).cast("long").as("max_key_pairs"),
            (sum(col("c") * col("c")).cast("double")
              / sum(col("c")).cast("double")).as("blowup"))),

    // ---- power-of-two (log2) value histogram --------------------------------
    // The magnitude profile a column gets before choosing a compression
    // codec or a histogram's bucket scale: rows bucketed by the BIT
    // LENGTH of the integer cents value — floor(log2)+1 computed with NO
    // floating log (float log2 misbuckets exact powers of two in the
    // last ulp): Spark's bin() and DuckDB's to_base(·, 2) both render
    // the minimal binary string, so its length is the bucket in both
    // engines. One partial-agg shuffle bounded by 64 buckets.
    QuerySpec(
      "q187_pow2_hist",
      Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100, 0)
              AS BIGINT) AS cents FROM orders)
        SELECT CAST(length(to_base(cents, 2)) AS BIGINT) AS bits,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MIN(cents) AS BIGINT) AS min_cents,
          CAST(MAX(cents) AS BIGINT) AS max_cents
        FROM c GROUP BY 1"""),
      (s, d) =>
        t(s, d, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long")
            .as("cents"))
          .groupBy(length(bin(col("cents"))).cast("long").as("bits"))
          .agg(count(lit(1)).as("n"),
            min(col("cents")).cast("long").as("min_cents"),
            max(col("cents")).cast("long").as("max_cents")))
  )
}
