package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.operators.BlockScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 warehouse / curation operators: MERGE-style upsert,
  * temperature-scaled domain mixing, histogram + equi-depth binning,
  * per-group reservoir sampling, Z-order clustering keys, and
  * time-decayed aggregation.
  *
  * Like every other query family, each operator is declared twice — once
  * in the DataFrame DSL, once as DuckDB oracle SQL built from the same
  * Scala constants — and the two must hash-match exactly (SparkEntry
  * contract). Determinism techniques: integer cent/bit math wherever
  * possible, [[Portable]] md5-hash ordering for sampling, [[Exact]]
  * decimal-grid sums for IEEE reductions.
  */
object Curation {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Label propagation (q185): co-order support threshold for an edge
    * (the q112/q135 sparsifier) and the FIXED synchronous round count —
    * the round count is the operator's contract, not a convergence knob.
    */
  private val LpMinSupport = 2
  private val LpRounds = 3

  /** Rolling-median trailing frame (q188): 6 hours in epoch-ms. */
  private val RollMedianMs = 6L * 3600000L

  /** Systematic sampling stride (q192): keep ranks 1, K+1, 2K+1, … */
  private val SysSampleK = 100

  // ---- shared Morton (Z-order) spread, DuckDB side -------------------------
  // Mirrors graft.expressions.Morton2.spread bit-for-bit: same five
  // shift-mask stages, decimal forms of the same constants.
  private def spreadDuck(e: String): String = {
    val m = Seq(
      (16, 281470681808895L), // 0x0000FFFF0000FFFF
      (8, 71777214294589695L), // 0x00FF00FF00FF00FF
      (4, 1085102592571150095L), // 0x0F0F0F0F0F0F0F0F
      (2, 3689348814741910323L), // 0x3333333333333333
      (1, 6148914691236517205L)) // 0x5555555555555555
    m.foldLeft(s"(($e) & 4294967295)") { case (x, (sh, mask)) =>
      s"((($x | ($x << $sh)) & $mask))"
    }
  }

  private[queries] def mortonDuck(x: String, y: String): String =
    s"(${spreadDuck(x)} | (${spreadDuck(y)} << 1))"

  /** MERGE cutoff: deltas at/after this instant upsert the prior snapshot. */
  private val MergeCutoff = "2024-01-20 00:00:00"

  /** Domain-mix temperature: weight ∝ n^(1/2) (integer isqrt — exact in
    * both engines), total sample budget 1000.
    */
  private val MixBudget = 1000

  private val ReservoirK = 5

  /** Time-decay: halve per day of age, floor at 2^-40 (k capped so the
    * per-row product never goes subnormal — exact in both engines).
    */
  private val DecayCapHalvings = 40
  private val DayMs = 86400000L

  val all: Seq[QuerySpec] = Seq(

    // ---- MERGE INTO / upsert (Delta-style) ---------------------------------
    // The warehouse maintenance primitive the reference's promote step
    // approximates with partition overwrite: target = latest-wins snapshot
    // per user BEFORE the cutoff, source = latest-wins delta AFTER it;
    // FULL OUTER on the key classifies every output row as
    // keep / update / insert and takes the source's values when present.
    // 100 TB plan: both latest-wins windows and the outer join hash on the
    // SAME key (user_id), so Catalyst reuses one exchange per side — the
    // whole MERGE is two shuffles (one per input), no sort-merge ambiguity,
    // no driver involvement. Determinism: latest-wins breaks ts ties on
    // event_id; values are picked (not summed), so doubles pass through
    // bit-identically.
    QuerySpec(
      "q99_merge_upsert",
      Some(s"""WITH tgt AS (
          SELECT user_id, event_type, value, ts FROM (
            SELECT user_id, event_type, value, ts,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rk
            FROM events WHERE ts < TIMESTAMP '$MergeCutoff') z
          WHERE rk = 1),
        src AS (
          SELECT user_id, event_type, value, ts FROM (
            SELECT user_id, event_type, value, ts,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rk
            FROM events WHERE ts >= TIMESTAMP '$MergeCutoff') z
          WHERE rk = 1)
        SELECT COALESCE(t.user_id, s.user_id) AS user_id,
          COALESCE(s.event_type, t.event_type) AS event_type,
          COALESCE(s.value, t.value) AS value,
          COALESCE(s.ts, t.ts) AS last_ts,
          CASE WHEN s.user_id IS NULL THEN 'keep'
               WHEN t.user_id IS NULL THEN 'insert'
               ELSE 'update' END AS action
        FROM tgt t FULL OUTER JOIN src s ON t.user_id = s.user_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        def latest(side: DataFrame): DataFrame =
          side.withColumn("rk", row_number().over(
              Window.partitionBy(col("user_id"))
                .orderBy(col("ts").desc, col("event_id").desc)))
            .filter(col("rk") === 1)
            .select(col("user_id"), col("event_type"), col("value"),
              col("ts"))
        val cut = expr(s"TIMESTAMP '$MergeCutoff'")
        val tgt = latest(ev.filter(col("ts") < cut))
        val src = latest(ev.filter(col("ts") >= cut))
          .withColumnsRenamed(Map("user_id" -> "s_user_id",
            "event_type" -> "s_event_type", "value" -> "s_value",
            "ts" -> "s_ts"))
        tgt.join(src, col("user_id") === col("s_user_id"), "full_outer")
          .select(
            coalesce(col("user_id"), col("s_user_id")).as("user_id"),
            coalesce(col("s_event_type"), col("event_type"))
              .as("event_type"),
            coalesce(col("s_value"), col("value")).as("value"),
            coalesce(col("s_ts"), col("ts")).as("last_ts"),
            when(col("s_user_id").isNull, "keep")
              .when(col("user_id").isNull, "insert")
              .otherwise("update").as("action"))
      }),

    // ---- temperature-scaled domain mixing ----------------------------------
    // The data-mixture step of corpus assembly: per-domain sample targets
    // ∝ n^(1/2) (temperature sampling flattens the head so low-resource
    // domains keep representation), then a deterministic portable-hash
    // rank picks exactly target_n docs per domain — the same docs in any
    // engine, on any cluster layout, on any rerun.
    // Integer discipline: weight = isqrt(n) (floor of an exactly-rounded
    // IEEE sqrt of an exact int), budget share = integer division — no
    // float sums across domains anywhere.
    // 100 TB plan: the domain-stats frame is |domains| rows (broadcast);
    // docs shuffle ONCE on lang for the rank window; everything else is
    // row-local. Checksum column proves the picked SET, not just counts.
    QuerySpec(
      "q100_domain_mix",
      Some(s"""WITH n AS (
          SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        w AS (SELECT lang, n_docs,
            CAST(floor(sqrt(n_docs)) AS BIGINT) AS wsq FROM n),
        tot AS (SELECT CAST(SUM(wsq) AS BIGINT) AS denom FROM w),
        tgt AS (SELECT lang, n_docs,
            LEAST(($MixBudget * wsq) // denom, n_docs) AS target_n
          FROM w, tot),
        r AS (SELECT lang, doc_id,
            row_number() OVER (PARTITION BY lang
              ORDER BY ${Portable.h64Duck("CAST(doc_id AS VARCHAR)")},
                doc_id) AS rk
          FROM documents)
        SELECT g.lang, g.n_docs, g.target_n,
          COUNT(*) AS n_sampled, CAST(SUM(r.doc_id) AS BIGINT) AS id_sum
        FROM tgt g JOIN r ON r.lang = g.lang AND r.rk <= g.target_n
        GROUP BY g.lang, g.n_docs, g.target_n"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val tgtN = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("wsq", floor(sqrt(col("n_docs"))).cast("long"))
          .crossJoin(broadcast(
            docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
              .agg(sum(floor(sqrt(col("nd"))).cast("long")).as("denom"))))
          .withColumn("target_n",
            least(expr(s"($MixBudget * wsq) div denom"), col("n_docs")))
          .select(col("lang"), col("n_docs"), col("target_n"))
        val ranked = docs
          .withColumn("h", expr(Portable.h64Spark("cast(doc_id as string)")))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("h"), col("doc_id"))))
          .select(col("lang"), col("doc_id"), col("rk"))
        ranked.join(broadcast(tgtN), "lang")
          .filter(col("rk") <= col("target_n"))
          .groupBy(col("lang"), col("n_docs"), col("target_n"))
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("doc_id")).as("id_sum"))
      }),

    // ---- equal-width histogram (integer cent math) -------------------------
    // Distribution profiling at scan speed: two tiny aggregates (global
    // min/max cents — exact longs) broadcast back, then binning is pure
    // row-local integer arithmetic and one partial-agg shuffle of ≤20
    // groups. No sort, no window, no float boundary anywhere — the 100 TB
    // plan is exactly the sf0.01 plan.
    QuerySpec(
      "q101_histogram",
      Some("""WITH c AS (SELECT
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        st AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c)
        SELECT ((cents - mn) * 20) // (mx - mn + 1) AS bin,
          COUNT(*) AS n,
          CAST(MIN(cents) AS DOUBLE) / 100 AS lo_price,
          CAST(MAX(cents) AS DOUBLE) / 100 AS hi_price
        FROM c, st GROUP BY 1"""),
      (s, d) => {
        val c = t(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100, 0).cast("long")
            .as("cents"))
        val st = c.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
        c.crossJoin(broadcast(st))
          .withColumn("bin", expr("((cents - mn) * 20) div (mx - mn + 1)"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            (min(col("cents")).cast("double") / 100).as("lo_price"),
            (max(col("cents")).cast("double") / 100).as("hi_price"))
      }),

    // ---- equi-depth binning (exact percentile cutpoints) -------------------
    // Quantile discretization for feature engineering: 9 exact
    // interpolated deciles over integer cents (both engines implement the
    // SQL-standard (n-1)p rank + linear interpolation on the same exact
    // integers → bit-identical cutpoints), broadcast back; a row's bin is
    // the count of cutpoints strictly below it (ties bin DOWN — no float
    // equality anywhere near the boundary decides differently).
    //
    // 100 TB plan — exact quantiles WITHOUT the single-buffer aggregate:
    // Spark's built-in exact `percentile` materializes every value in one
    // aggregation buffer (fine at fixture scale, OOM at 2e10 rows), so the
    // cutpoints here come from a distributed rank lookup instead:
    //   1. value histogram: groupBy(cents) → (value, count) — partial-agg
    //      shuffle, ≤ |value range| rows ever after, independent of corpus;
    //   2. prefix sums by VALUE-RANGE block (cents div 2^16): per-block
    //      cumsum windows partition on the block key, and only the
    //      range/2^16-row block-totals table (~160 rows here, corpus-size-
    //      independent because the cent RANGE is fixed) crosses a global
    //      window — the q76/q88 block discipline;
    //   3. each decile's rank h=(n-1)p locates its floor/ceil values via a
    //      9-row broadcast containment join; interpolation is the same
    //      lo+(hi-lo)*frac the built-in (and DuckDB) computes.
    // Binning is then row-local against the 9 broadcast cutpoints and the
    // final rollup shuffles 10 groups.
    QuerySpec(
      "q102_equidepth_bins",
      Some("""WITH c AS (SELECT
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        q AS (SELECT quantile_cont(cents,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM c)
        SELECT CAST(list_sum([CASE WHEN cents > cuts[i] THEN 1 ELSE 0 END
            for i in range(1, 10)]) AS BIGINT) AS bin,
          COUNT(*) AS n,
          CAST(MIN(cents) AS DOUBLE) / 100 AS lo_price,
          CAST(MAX(cents) AS DOUBLE) / 100 AS hi_price
        FROM c, q GROUP BY 1"""),
      (s, d) => {
        val c = t(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100, 0).cast("long")
            .as("cents"))
          .cache() // scanned for the histogram AND the final binning pass
        val cuts = graft.operators.Quantiles.exactQuantiles(
          c, col("cents"), (1 to 9).map(_ / 10.0))
        // row-local binning against the broadcast cutpoints
        c.crossJoin(broadcast(cuts))
          .withColumn("bin", expr(
            "aggregate(cuts, 0L, (a, x) -> a + IF(cents > x, 1L, 0L))"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            (min(col("cents")).cast("double") / 100).as("lo_price"),
            (max(col("cents")).cast("double") / 100).as("hi_price"))
      }),

    // ---- deterministic per-group reservoir (exact k per group) -------------
    // Guaranteed-k sampling (q87's hash GATE keeps a rate, not a count):
    // rank group members by the portable hash of their id and keep the
    // first k — a "reservoir sample" that is a pure function of the group's
    // member SET. One shuffle on the group key for the rank window;
    // h64 order is uniform so the pick is unbiased.
    QuerySpec(
      "q103_group_reservoir",
      Some(s"""SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
          SELECT source, doc_id,
            row_number() OVER (PARTITION BY source
              ORDER BY ${Portable.h64Duck("CAST(doc_id AS VARCHAR)")},
                doc_id) AS rk
          FROM documents) z
        WHERE rk <= $ReservoirK"""),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("h", expr(Portable.h64Spark("cast(doc_id as string)")))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("h"), col("doc_id"))))
          .filter(col("rk") <= ReservoirK)
          .select(col("source"), col("doc_id"), col("rk"))),

    // ---- Z-order (Morton) clustering key -----------------------------------
    // The multi-dimensional layout primitive: interleave quantized price
    // and quantity bits (native codegen morton2 — graft.expressions
    // .Morton2) so one sort key co-locates rows close in BOTH dimensions.
    // The per-bucket min/max columns ARE the demonstration: each Z-bucket
    // spans a tight price×quantity rectangle, which is what makes file
    // min/max statistics prune 2-D range predicates after a write sorted
    // by this key. 100 TB plan: key is row-local long math inside
    // whole-stage codegen; the rollup is one partial-agg shuffle of
    // ~|buckets| groups.
    QuerySpec(
      "q104_zorder",
      Some(s"""WITH g AS (SELECT
            CAST(floor(l_extendedprice) AS BIGINT) AS px,
            CAST(floor(l_quantity) AS BIGINT) AS qy
          FROM lineitem)
        SELECT ${mortonDuck("px", "qy")} >> 16 AS zbucket,
          COUNT(*) AS n,
          MIN(px) AS min_price_i, MAX(px) AS max_price_i,
          MIN(qy) AS min_qty, MAX(qy) AS max_qty
        FROM g GROUP BY 1"""),
      (s, d) => {
        t(s, d, "lineitem")
          .select(floor(col("l_extendedprice")).cast("long").as("px"),
            floor(col("l_quantity")).cast("long").as("qy"))
          .withColumn("zbucket", expr("shiftright(morton2(px, qy), 16)"))
          .groupBy(col("zbucket"))
          .agg(count(lit(1)).as("n"),
            min(col("px")).as("min_price_i"),
            max(col("px")).as("max_price_i"),
            min(col("qy")).as("min_qty"), max(col("qy")).as("max_qty"))
      }),

    // ---- grouped exact deciles (distributed per-group percentiles) --------
    // The per-group form of the q102 machinery (operators.Quantiles):
    // exact interpolated deciles of price PER return flag with every stage
    // keyed by the group — no per-group value buffer anywhere, so both
    // group count and group size scale unbounded (the built-in grouped
    // `percentile` of q16 holds each group's values in one JVM buffer;
    // this is its 100 TB replacement). QuantilesSpec pins the ungrouped
    // operator bitwise to the built-in; here the DuckDB differential pins
    // the grouped plan to quantile_cont per group.
    QuerySpec(
      "q106_grouped_deciles",
      Some("""WITH c AS (SELECT l_returnflag AS grp,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
          FROM lineitem),
        q AS (SELECT grp, quantile_cont(v,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
          FROM c GROUP BY grp)
        SELECT grp, CAST(u.i AS INT) AS i, u.cut AS cut FROM (
          SELECT grp, unnest([{'i': i - 1, 'cut': cuts[i]}
              for i in range(1, 10)]) AS u
          FROM q) z"""),
      (s, d) =>
        graft.operators.Quantiles.exactQuantilesByGroup(
          t(s, d, "lineitem"),
          col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0),
          (1 to 9).map(_ / 10.0))),

    // ---- ordered funnel (view → click → purchase) --------------------------
    // Sequential-conversion counting: a user advances a stage only with an
    // event STRICTLY AFTER their previous stage's first qualifying event.
    // Three user-keyed min-aggregates chained by inequality joins — all
    // three shuffles hash on user_id, so the chain reuses one partitioning;
    // per-stage outputs are |users| rows, the final counts are tiny.
    QuerySpec(
      "q107_funnel",
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          c AS (SELECT e.user_id, MIN(e.ts) AS t1
            FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t0
            WHERE e.event_type = 'click' GROUP BY e.user_id),
          p AS (SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t1
            WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        SELECT stage, n_users FROM (
          SELECT 'view' AS stage, COUNT(*) AS n_users FROM v
          UNION ALL SELECT 'click', COUNT(*) FROM c
          UNION ALL SELECT 'purchase', COUNT(*) FROM p) z"""),
      (s, d) => {
        val ev = t(s, d, "events")
        def stageAfter(typ: String, prev: DataFrame): DataFrame =
          ev.filter(col("event_type") === typ)
            .join(prev, Seq("user_id"))
            .filter(col("ts") > col("t_prev"))
            .groupBy(col("user_id")).agg(min(col("ts")).as("t_prev"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_prev"))
        val c = stageAfter("click", v)
        val p = stageAfter("purchase", c)
        v.agg(count(lit(1)).as("n_users"))
          .select(lit("view").as("stage"), col("n_users"))
          .unionAll(c.agg(count(lit(1)).as("n_users"))
            .select(lit("click").as("stage"), col("n_users")))
          .unionAll(p.agg(count(lit(1)).as("n_users"))
            .select(lit("purchase").as("stage"), col("n_users")))
      }),

    // ---- one deterministic k-means (Lloyd) step ----------------------------
    // The assignment+update pass of embedding clustering, exact-integer
    // end to end: seeds are the first K quantized vectors (deterministic —
    // k-means++ draws are not SQL-mirrorable), squared euclidean distance
    // over quantized ints is nsq_v - 2·dot + nsq_c (exact long math), the
    // argmin breaks ties on the lowest centroid id, and the update-side
    // stats are exact integer sums. 100 TB plan: K seed vectors broadcast
    // against the corpus scan (no corpus shuffle to assign), then ONE
    // partial-agg shuffle of K groups for the update.
    QuerySpec(
      "q108_kmeans_step",
      Some(s"""WITH e AS (SELECT vec_id,
            ${Portable.qvecDuck("embedding", 64)} AS qv FROM embeddings),
        en AS (SELECT vec_id, qv, ${Portable.qnsqDuck("qv", 64)} AS nsq
          FROM e),
        seeds AS (SELECT vec_id AS cid, qv AS cqv, nsq AS cnsq
          FROM en WHERE vec_id < 10),
        dist AS (SELECT en.vec_id, s.cid,
            en.nsq - 2 * ${Portable.qdotDuck("en.qv", "s.cqv", 64)} + s.cnsq
              AS d2
          FROM en, seeds s),
        assign AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM dist) z
          WHERE rk = 1)
        SELECT a.cid, COUNT(*) AS n_assigned,
          CAST(SUM(en.qv[1]) AS BIGINT) AS comp0_sum
        FROM assign a JOIN en ON en.vec_id = a.vec_id
        GROUP BY a.cid"""),
      (s, d) => {
        val en = t(s, d, "embeddings")
          .select(col("vec_id"), expr(Portable.qvecSpark("embedding"))
            .as("qv"))
          .withColumn("nsq", expr(Portable.qnsqSpark("qv")))
          .cache()
        val seeds = en.filter(col("vec_id") < 10)
          .select(col("vec_id").as("cid"), col("qv").as("cqv"),
            col("nsq").as("cnsq"))
        // argmin as min(struct(d2, cid)): the K pair rows of one vector are
        // adjacent in the scan partition (broadcast join preserves corpus
        // partitioning), so partial aggregation collapses them to ONE row
        // per vector before the exchange — a window argmin would shuffle
        // the K×corpus pair frame instead.
        en.crossJoin(broadcast(seeds))
          .select(col("vec_id"), col("cid"), expr("qv[0]").as("q0"),
            (col("nsq") - lit(2) * expr(Portable.qdotSpark("qv", "cqv"))
              + col("cnsq")).as("d2"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cid"))).as("m"),
            min(col("q0")).as("q0"))
          .groupBy(col("m.cid").as("cid"))
          .agg(count(lit(1)).as("n_assigned"),
            sum(col("q0")).as("comp0_sum"))
      }),

    // ---- cohort retention matrix -------------------------------------------
    // Product-analytics staple: users bucketed by first-activity date,
    // activity counted per (cohort, day offset). Two user_id-keyed stages
    // (first-seen min, then the enrich join) reuse one partitioning; the
    // matrix aggregate shuffles |cohorts|·|offsets| groups.
    QuerySpec(
      "q109_cohort_retention",
      Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
            FROM events GROUP BY user_id),
          a AS (SELECT DISTINCT e.user_id, f.cohort,
              datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_offset
            FROM events e JOIN f ON f.user_id = e.user_id)
        SELECT cohort, CAST(day_offset AS INT) AS day_offset,
          COUNT(*) AS n_users
        FROM a GROUP BY cohort, day_offset"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val f = ev.groupBy(col("user_id"))
          .agg(min(col("ts").cast("date")).as("cohort"))
        ev.join(f, Seq("user_id"))
          .select(col("user_id"), col("cohort"),
            datediff(col("ts").cast("date"), col("cohort"))
              .as("day_offset"))
          .distinct()
          .groupBy(col("cohort"), col("day_offset"))
          .agg(count(lit(1)).as("n_users"))
      }),

    // ---- fuzzy record linkage (blocked edit-distance join) -----------------
    // Entity-resolution primitive: find records whose names are within
    // edit distance 1, without an all-pairs scan — candidates come from a
    // name-prefix BLOCK (the record-linkage "blocking key"; here the
    // 16-char prefix, which bounds block size by construction on the
    // Customer#NNNNNNNNN name shape). Both engines implement classic
    // unit-cost Levenshtein, so the verdicts agree exactly.
    // 100 TB plan: one shuffle on the blocking key; pair count is
    // Σ n_block² with the prefix length as the occupancy knob (longer
    // prefix → smaller blocks), the same discipline as the LSH/simhash
    // band families. Output is per-record neighbor stats, not pairs, so
    // result size stays linear in the input.
    QuerySpec(
      "q110_fuzzy_join",
      Some("""WITH b AS (SELECT c_custkey, c_name,
            substring(c_name, 1, 16) AS blk FROM customer),
          p AS (SELECT a.c_custkey AS ka, b2.c_custkey AS kb
            FROM b a JOIN b b2 ON a.blk = b2.blk
              AND a.c_custkey < b2.c_custkey
            WHERE levenshtein(a.c_name, b2.c_name) <= 1),
          n AS (SELECT ka AS c_custkey, kb AS nb FROM p
            UNION ALL SELECT kb, ka FROM p)
        SELECT c_custkey, COUNT(*) AS n_close, MIN(nb) AS nearest_key
        FROM n GROUP BY c_custkey"""),
      (s, d) => {
        val b = t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"),
            substring(col("c_name"), 1, 16).as("blk"))
        val p = b.select(col("c_custkey").as("ka"), col("c_name").as("na"),
            col("blk"))
          .join(b.select(col("c_custkey").as("kb"),
            col("c_name").as("nb_name"), col("blk").as("blk_b")),
            col("blk") === col("blk_b") && col("ka") < col("kb"))
          // threshold form: banded DP early-exits (returns -1) once the
          // distance provably exceeds 1 — same verdict as lev(a,b) <= 1,
          // a fraction of the cost on the mostly-distant in-block pairs
          .filter(expr("levenshtein(na, nb_name, 1)").between(0, 1))
          .select(col("ka"), col("kb"))
          // cached: the undirected expansion below reads the edge list
          // twice, and it is linear in the input (≤ neighbors-per-record
          // bounded by block size) — without this the block join and the
          // Levenshtein verify run twice
          .cache()
        p.select(col("ka").as("c_custkey"), col("kb").as("nb"))
          .unionAll(p.select(col("kb").as("c_custkey"), col("ka").as("nb")))
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("n_close"), min(col("nb")).as("nearest_key"))
      }),

    // ---- time-series gap fill + forward fill -------------------------------
    // Resampling for feature pipelines: expand each user's activity span
    // to a dense daily spine, count absent days as zero, and carry the
    // last observed day-value forward. The spine is generated row-locally
    // (sequence + explode — no calendar table join); the fill is one
    // user-partitioned window; daily values cross rows on the Exact grid
    // so the carried double is engine-identical.
    // 100 TB plan: shuffles hash on user_id only (daily rollup, spine
    // join, fill window — one partitioning reused); spine size is bounded
    // by |users| × span-days.
    QuerySpec(
      "q111_gap_fill",
      Some(s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
            COUNT(*) AS n_events, ${Exact.sqlDsum("value")} AS day_value
          FROM events GROUP BY user_id, CAST(ts AS DATE)),
        span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
          FROM daily GROUP BY user_id),
        spine AS (SELECT user_id, CAST(d AS DATE) AS day FROM (
            SELECT user_id,
              unnest(generate_series(CAST(d0 AS TIMESTAMP),
                CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS d
            FROM span) z),
        j AS (SELECT s.user_id, s.day,
            COALESCE(d.n_events, 0) AS n_events, d.day_value
          FROM spine s LEFT JOIN daily d
            ON d.user_id = s.user_id AND d.day = s.day)
        SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
          last_value(day_value IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS carried_value
        FROM j"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("user_id"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n_events"),
            Exact.dsum(col("value")).as("day_value"))
        val spine = daily.groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        spine.join(daily, Seq("user_id", "day"), "left_outer")
          .select(col("user_id"), col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            col("day_value"))
          .withColumn("carried_value",
            last(col("day_value"), ignoreNulls = true).over(
              Window.partitionBy(col("user_id")).orderBy(col("day"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .drop("day_value")
      }),

    // ---- market-basket co-occurrence ---------------------------------------
    // Items bought together: distinct (order, part), self-join on the
    // order key, count orders per part pair, keep pairs seen ≥ 2 times.
    // 100 TB plan: the self-join is CO-PARTITIONED (both sides hash on
    // l_orderkey — one shuffle each) and pair fan-out is bounded by
    // per-order width squared (≤ 7 lineitems → ≤ 21 pairs/order), so
    // candidates are linear in orders; the pair aggregate is
    // partial+final.
    QuerySpec(
      "q112_cooccurrence",
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem),
          p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
            FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey)
        SELECT part_a, part_b, COUNT(*) AS n_orders
        FROM p GROUP BY part_a, part_b HAVING COUNT(*) >= 2"""),
      (s, d) =>
        // pair build via the shared basket fan-out (Baskets.pairCounts):
        // 2 exchanges + no join vs the old 3-exchange self-join — same
        // (pa, pb, count) multiset, see Baskets' header
        Baskets.pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .select(col("pa").as("part_a"), col("pb").as("part_b"),
            col("w").as("n_orders"))
          .filter(col("n_orders") >= 2)),

    // ---- incremental aggregate maintenance (materialized-view merge) -------
    // The IVM primitive behind every "refresh the summary table without
    // recomputing it" pipeline: partial aggregates of the old data and the
    // new batch MERGE into exactly the full recompute, because counts add
    // and the Exact DECIMAL grid is associative (partial decimal sums
    // carry no rounding until ONE final conversion — the property IEEE
    // partials lack). The oracle is deliberately the FULL recompute: the
    // gate proves merged-partials ≡ recompute bit-for-bit.
    // 100 TB plan: the old side would be a stored partial-agg table
    // (|users| rows, decimal column); each refresh shuffles only the new
    // batch, then one |users|-row join.
    QuerySpec(
      "q114_incr_agg",
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
          ${Exact.sqlDsum("value")} AS total_value
        FROM events GROUP BY user_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val cut = expr(s"TIMESTAMP '$MergeCutoff'")
        def partial(side: DataFrame): DataFrame =
          side.groupBy(col("user_id")).agg(count(lit(1)).as("n"),
            sum(col("value").cast(Exact.SumDec)).as("dec"))
        val old = partial(ev.filter(col("ts") < cut))
        val fresh = partial(ev.filter(col("ts") >= cut))
          .withColumnsRenamed(Map("user_id" -> "f_user_id",
            "n" -> "f_n", "dec" -> "f_dec"))
        val zero = lit(java.math.BigDecimal.ZERO).cast(Exact.SumDec)
        val merged = old
          .join(fresh, col("user_id") === col("f_user_id"), "full_outer")
          .select(
            coalesce(col("user_id"), col("f_user_id")).as("user_id"),
            (coalesce(col("n"), lit(0L))
              + coalesce(col("f_n"), lit(0L))).as("n_events"),
            (coalesce(col("dec"), zero)
              + coalesce(col("f_dec"), zero)).as("s"))
        // Exact.dsum's final conversion, applied ONCE to the merged exact
        // decimal (same ops → same double as the full recompute)
        val r = round(col("s"), 4)
        val ip = floor(r)
        merged.select(col("user_id"), col("n_events"),
          (ip.cast("long").cast("double")
            + (r - ip).cast("double")).as("total_value"))
      }),

    // ---- PageRank (3 grid-rounded power iterations) ------------------------
    // Graph centrality over the co-purchase graph (q112's support≥2 edges,
    // undirected): N-scaled PageRank pr'₀=1, pr'ₖ = 0.15 + 0.85·Σ
    // pr'ₖ₋₁(u)/deg(u), three unrolled iterations. Each iteration's
    // neighbor sum crosses rows on the Exact grid and is rounded to the
    // 1e-4 grid by the dsum conversion — so the iterate is a
    // DETERMINISTIC function of the graph in both engines (IEEE neighbor
    // sums would drift with partition order and diverge across engines).
    // 100 TB plan: per iteration, one join of the cached edge list
    // against the |nodes|-row rank frame (both hash on the node key —
    // partitioning reuse) and one partial-agg shuffle; the classic
    // DataFrame-Pregel shape with bounded iterations.
    QuerySpec(
      "q115_pagerank", {
        def iterDuck(prev: String, out: String): String =
          s"""$out AS (SELECT e.dst AS part,
              0.15 + 0.85 * ${Exact.sqlDsum("p.pr / d.deg")} AS pr
            FROM e JOIN $prev p ON p.part = e.src
                   JOIN deg d ON d.part = e.src
            GROUP BY e.dst)"""
        Some(s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
              FROM lineitem),
            pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
              GROUP BY pa, pb HAVING COUNT(*) >= 2),
            e AS (SELECT pa AS src, pb AS dst FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
            deg AS (SELECT src AS part, COUNT(*) AS deg FROM e
              GROUP BY src),
            pr0 AS (SELECT part, CAST(1.0 AS DOUBLE) AS pr FROM deg),
            ${iterDuck("pr0", "pr1")},
            ${iterDuck("pr1", "pr2")},
            ${iterDuck("pr2", "pr3")}
          SELECT p.part, d.deg, p.pr FROM pr3 p
          JOIN deg d ON d.part = p.part""")
      },
      (s, d) => {
        // pair build via the shared basket fan-out — see Baskets' header
        val pairs = Baskets
          .pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .filter(col("w") >= 2)
        val e = pairs.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(pairs.select(col("pb").as("src"), col("pa").as("dst")))
          .cache()
        // Hoist the degree join OUT of the iteration loop: deg(u) is
        // iteration-invariant, so attach it to the cached edge list once
        // and each of the three iterations pays exactly one join (edges ⋈
        // rank frame, both hashed on the source key — the cached edge
        // partitioning is reused, only the |nodes|-row rank frame
        // shuffles) plus one partial-agg shuffle. The old shape re-joined
        // deg inside the loop — 3 extra edge-sized shuffle joins per run.
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).cache()
        val ed = e.join(deg, "src")
          .select(col("src"), col("dst"), col("deg")).cache()
        var pr = deg.select(col("src").as("part"), lit(1.0).as("pr"))
        for (_ <- 1 to 3)
          pr = ed.join(pr, col("part") === col("src"))
            .groupBy(col("dst"))
            .agg(Exact.dsum(col("pr") / col("deg")).as("nsum"))
            .select(col("dst").as("part"),
              (lit(0.15) + lit(0.85) * col("nsum")).as("pr"))
        pr.join(deg.select(col("src").as("part"), col("deg")), "part")
          .select(col("part"), col("deg"), col("pr"))
      }),

    // ---- clickstream path analysis (consecutive-event transitions) ---------
    // The Markov-transition profile of user behavior: per user, order
    // events by (ts, event_id) and count each consecutive event_type
    // transition. One user-keyed window shuffle; the transition rollup is
    // |types|² groups. The (ts, event_id) total order makes the lag
    // deterministic under any partitioning.
    QuerySpec(
      "q116_event_paths",
      Some("""WITH s AS (SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev
          FROM events)
        SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
        FROM s WHERE prev IS NOT NULL GROUP BY prev, event_type"""),
      (s, d) =>
        t(s, d, "events")
          .withColumn("prev", lag(col("event_type"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("from_type"),
            col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))),

    // ---- per-group anomaly flags (z-score outliers) ------------------------
    // Monitoring-pipeline staple: flag events whose value deviates > 3
    // sample standard deviations from THEIR USER's mean. Stats come from
    // the q77 decimal-grid moment components (order-independent, so μ/σ
    // are engine-identical doubles), the z arithmetic is row-local IEEE,
    // and degenerate users (n=1, zero variance) NULL out symmetrically in
    // both engines (NULLIF / when guards). One shuffle for the stats, one
    // broadcast-or-shuffle join back on user_id.
    QuerySpec(
      "q117_anomaly_flags", {
        val sx = Exact.sqlDsum("value")
        val sxx = Exact.sqlDsum("value * value")
        Some(s"""WITH st AS (SELECT user_id, COUNT(*) AS n,
              $sx AS sx, $sxx AS sxx
            FROM events GROUP BY user_id),
          z AS (SELECT e.event_id, e.user_id, e.value,
              (e.value - sx / n)
                / sqrt((sxx - sx * sx / n) / NULLIF(n - 1, 0)) AS z
            FROM events e JOIN st ON st.user_id = e.user_id)
          SELECT event_id, user_id, value, z FROM z WHERE abs(z) > 3""")
      },
      (s, d) => {
        val st = t(s, d, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            Exact.dsum(col("value")).as("sx"),
            Exact.dsum(col("value") * col("value")).as("sxx"))
          .withColumnRenamed("user_id", "s_user_id")
        val nm1 = when(col("n") > 1, col("n") - 1)
        t(s, d, "events")
          .join(st, col("user_id") === col("s_user_id"))
          .withColumn("z", (col("value") - col("sx") / col("n"))
            / sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / nm1))
          .filter(abs(col("z")) > 3)
          .select(col("event_id"), col("user_id"), col("value"), col("z"))
      }),

    // ---- top-k per group via a k-bounded native aggregate ------------------
    // The scale alternative to `row_number() <= k` (q08): the window form
    // shuffles and sorts EVERY row of every group; the typed TopK
    // aggregate's buffer holds at most k longs, so partial aggregation
    // collapses each partition to k values before the exchange and the
    // shuffle carries |groups|·k longs total. Output is the top-k of the
    // value MULTISET — deterministic regardless of row identity — exploded
    // to (group, rank, value) rows. Oracle: the window formulation over
    // the same integer cents (ties output equal values, so both forms
    // agree exactly).
    QuerySpec(
      "q118_topk_agg",
      Some("""SELECT l_returnflag, CAST(rk AS INT) AS rk, v FROM (
          SELECT l_returnflag,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v,
            row_number() OVER (PARTITION BY l_returnflag
              ORDER BY CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                DESC) AS rk
          FROM lineitem) z
        WHERE rk <= 5"""),
      (s, d) => {
        val topk = udaf(new graft.functions.Aggregators.TopK(5))
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
          .groupBy(col("l_returnflag"))
          .agg(topk(col("v")).as("top"))
          .select(col("l_returnflag"),
            posexplode(col("top")).as(Seq("rk0", "v")))
          .select(col("l_returnflag"),
            (col("rk0") + 1).cast("int").as("rk"), col("v"))
      }),

    // ---- gap-and-islands (maximal consecutive-day runs) --------------------
    // Activity-streak detection: for each user, the maximal runs of
    // CONSECUTIVE active days. The classic island key — day minus the
    // per-user day rank is constant within a run — turns run detection
    // into one window plus one aggregate, both keyed on user_id (one
    // reused partitioning).
    QuerySpec(
      "q119_gap_islands",
      Some("""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
          r AS (SELECT user_id, day,
              day - CAST(row_number() OVER (PARTITION BY user_id
                ORDER BY day) AS INT) AS grp
            FROM d)
        SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
          COUNT(*) AS n_days
        FROM r GROUP BY user_id, grp"""),
      (s, d) => {
        val days = t(s, d, "events")
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        days.withColumn("grp", date_sub(col("day"),
            row_number().over(Window.partitionBy(col("user_id"))
              .orderBy(col("day")))))
          .groupBy(col("user_id"), col("grp"))
          .agg(min(col("day")).as("island_start"),
            max(col("day")).as("island_end"),
            count(lit(1)).as("n_days"))
          .drop("grp")
      }),

    // ---- deterministic mode (most frequent value per group) ----------------
    // Both engines SHIP a `mode()` aggregate, but neither defines tie
    // order (Spark: "non-deterministic on ties"; DuckDB: first-seen) — a
    // latent cross-engine/cross-run hazard. This formulation makes the tie
    // explicit: count per (group, value), then argmax by (count DESC,
    // value ASC) via one more partial-agg max of a (count, -value)
    // struct — two partial+final shuffles, deterministic everywhere.
    QuerySpec(
      "q120_mode",
      Some("""WITH c AS (SELECT l_returnflag,
            CAST(floor(l_quantity) AS BIGINT) AS q, COUNT(*) AS n
          FROM lineitem GROUP BY l_returnflag, CAST(floor(l_quantity)
            AS BIGINT)),
        r AS (SELECT l_returnflag, q, n, row_number() OVER (
            PARTITION BY l_returnflag ORDER BY n DESC, q ASC) AS rk
          FROM c)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_mode, q AS mode_qty
        FROM r WHERE rk = 1"""),
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"),
            floor(col("l_quantity")).cast("long").as("q"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("l_returnflag"))
          .agg(max(struct(col("n"), (-col("q")).as("negq"))).as("mx"))
          .select(col("l_returnflag"), col("mx.n").as("n_mode"),
            (-col("mx.negq")).as("mode_qty"))),

    // ---- weighted (importance) sampling ------------------------------------
    // Deterministic sampling with per-row inclusion probability ∝ a
    // weight column (here n_chars — longer documents kept more often, the
    // importance-sampling shape of data mixing): keep iff
    // h64(doc_id) mod S < (weight · S) div max_weight. All integer math
    // against one broadcast scalar, so the kept SET is a pure function of
    // the data — rerun-stable, layout-independent, engine-identical.
    // 100 TB plan: row-local gate behind one tiny all-reduce; the rollup
    // shuffles |sources| groups.
    QuerySpec(
      "q113_weighted_sample",
      Some(s"""WITH mx AS (SELECT MAX(n_chars) AS mc FROM documents),
        k AS (SELECT source, doc_id,
            CASE WHEN (${Portable.h64Duck("CAST(doc_id AS VARCHAR)")}
                % 10000) < (n_chars * 10000) // mc
              THEN 1 ELSE 0 END AS keep
          FROM documents, mx)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(keep) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN keep = 1 THEN doc_id ELSE 0 END) AS BIGINT)
            AS kept_id_sum
        FROM k GROUP BY source"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val mx = docs.agg(max(col("n_chars")).as("mc"))
        docs.crossJoin(broadcast(mx))
          .withColumn("keep",
            when(expr(Portable.h64Spark("cast(doc_id as string)")) % 10000
                < expr("(n_chars * 10000) div mc"), 1L).otherwise(0L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
            sum(when(col("keep") === 1, col("doc_id")).otherwise(0L))
              .as("kept_id_sum"))
      }),

    // ---- time-decayed (exponential half-life) aggregate --------------------
    // Recency-weighted rollup — the feature-store / trending-score shape:
    // weight halves per day of age relative to the corpus' newest event.
    // Determinism: age→halvings k is integer math; 0.5^k (k ≤ 40) and the
    // per-row product are exact IEEE scalings; the SUM crosses rows on the
    // Exact decimal grid, so partition order can't skew the total.
    // 100 TB plan: max(ts) is one tiny all-reduce broadcast back; the
    // weighted sum is partial-agg friendly (one shuffle of |users| groups).
    QuerySpec(
      "q105_decay_agg",
      Some(s"""WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
        w AS (SELECT user_id, value,
            LEAST((epoch_ms(tmax) - epoch_ms(ts)) // $DayMs,
              $DecayCapHalvings) AS k
          FROM events, mx)
        SELECT user_id, COUNT(*) AS n_events,
          ${Exact.sqlDsum("value * pow(0.5, k)")} AS decayed_sum
        FROM w GROUP BY user_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val mx = ev.agg(max(col("ts")).as("tmax"))
        ev.crossJoin(broadcast(mx))
          // events.ts is TIMESTAMP_NTZ; the session runs UTC, so the
          // NTZ→TZ cast is instant-preserving and unix_millis matches
          // DuckDB's epoch_ms on the naive value.
          .withColumn("k", least(
            expr(s"""(unix_millis(cast(tmax as timestamp))
                - unix_millis(cast(ts as timestamp))) div $DayMs"""),
            lit(DecayCapHalvings)))
          .withColumn("decayed", col("value") * pow(lit(0.5), col("k")))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            Exact.dsum(col("decayed")).as("decayed_sum"))
      }),

    // ---- per-source language diversity (Gini / effective classes) ----------
    // Corpus-mix health without logs: Shannon entropy's ln() is
    // engine-divergent in the last ulp, but the Gini impurity
    // 1 - Sum(p^2) and the "effective number of languages" 1/Sum(p^2)
    // are pure count rationals — (N^2 - Sum(n^2)) and N^2 are exact
    // longs, each float output is ONE int64->double divide. Shape: two
    // chained partial-agg shuffles, |source x lang| then |source| rows.
    // Overflow: N^2 per source caps int64 at ~3e9 docs/source; the
    // decimal grid takes over past that.
    QuerySpec(
      "q142_diversity",
      Some("""WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl
          FROM documents GROUP BY 1, 2),
        a AS (SELECT source, CAST(SUM(nl) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS n_langs,
            CAST(SUM(nl * nl) AS BIGINT) AS sumsq
          FROM c GROUP BY 1)
        SELECT source, n, n_langs, sumsq,
          CAST(n * n - sumsq AS BIGINT) AS gini_num,
          CAST(n * n - sumsq AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini,
          CAST(n * n AS DOUBLE) / CAST(sumsq AS DOUBLE) AS effective_langs
        FROM a"""),
      (s, d) => {
        val c = t(s, d, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("nl"))
        val a = c.groupBy(col("source"))
          .agg(sum(col("nl")).as("n"), count(lit(1)).as("n_langs"),
            sum(col("nl") * col("nl")).as("sumsq"))
        a.select(col("source"), col("n"), col("n_langs"), col("sumsq"),
          (col("n") * col("n") - col("sumsq")).cast("long").as("gini_num"),
          ((col("n") * col("n") - col("sumsq")).cast("double")
            / (col("n") * col("n")).cast("double")).as("gini"),
          ((col("n") * col("n")).cast("double")
            / col("sumsq").cast("double")).as("effective_langs"))
      }),

    // ---- batch sessionization (30-minute inactivity gap) -------------------
    // The clickstream primitive q119's day-streaks don't cover: split
    // each user's event stream into sessions at >30-min gaps and emit
    // per-session rollups. Session ids are the running count of
    // gap-breaks — a pure function of the (ts, event_id)-ordered stream,
    // so ids are stable across engines and partitionings. Both windows
    // and the rollup key on user_id: ONE exchange, reused three times
    // (the q122 SCD2 discipline). Timestamps ride exact epoch-millis
    // longs end to end — no float near any session boundary.
    QuerySpec(
      "q155_sessionize",
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
            FROM events),
          f AS (SELECT user_id, event_id, ms,
              CASE WHEN lag(ms) OVER (PARTITION BY user_id
                  ORDER BY ms, event_id) IS NULL
                OR ms - lag(ms) OVER (PARTITION BY user_id
                  ORDER BY ms, event_id) > 1800000
                THEN 1 ELSE 0 END AS new_s
            FROM e),
          s AS (SELECT user_id, ms,
              CAST(SUM(new_s) OVER (PARTITION BY user_id
                ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
            FROM f)
        SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(MIN(ms) AS BIGINT) AS start_ms,
          CAST(MAX(ms) AS BIGINT) AS end_ms,
          CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
        FROM s GROUP BY 1, 2"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ms"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
          .withColumn("prev_ms", lag(col("ms"), 1).over(w))
          .withColumn("new_s",
            when(col("prev_ms").isNull
              || col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_s")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
            (max(col("ms")) - min(col("ms"))).as("duration_ms"))
      }),

    // ---- CDC apply (change-stream compaction with tombstones) ---------------
    // The log-to-snapshot step of every CDC ingest: a keyed change stream
    // compacts to latest-wins state, where the latest record can be a
    // TOMBSTONE that deletes the key (the delta q24/q99 don't cover —
    // latest-wins dedup keeps a row; MERGE upserts one; only CDC removes
    // keys). The event stream stands in as the log: per user, the
    // newest event by (ts, event_id) decides the key's fate — 'purchase'
    // retires the key (order completed, left the active-cart state),
    // anything else leaves it live with the event's value as payload.
    // ONE shuffle on the key for the ranking window; the rollup is a
    // 2-group aggregate. At 100 TB the log is additionally bucketed by
    // key and processed per time-partition with a carried snapshot —
    // the incremental shape of q58/q114.
    QuerySpec(
      "q163_cdc_apply",
      Some("""WITH r AS (SELECT user_id, event_type, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events),
        l AS (SELECT * FROM r WHERE rn = 1)
        SELECT CASE WHEN event_type = 'purchase' THEN 'deleted'
            ELSE 'live' END AS status,
          CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(CASE WHEN event_type <> 'purchase'
            THEN CAST(round(value * 100, 0) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS total_cents
        FROM l GROUP BY 1"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            when(col("event_type") === "purchase", "deleted")
              .otherwise("live").as("status"),
            when(col("event_type") =!= "purchase",
              round(col("value") * 100, 0).cast("long"))
              .otherwise(0L).as("cents"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("cents")).cast("long").as("total_cents"))
      }),

    // ---- linear-interpolation gap fill --------------------------------------
    // q111's forward-fill sibling for metrics where carrying the last
    // value biases downstream aggregates: missing days take the straight
    // line between the flanking known days. Four ignoreNulls windows per
    // user (prev/next value and day) on the SAME user_id exchange the
    // spine join already made; the interpolation itself is row-local —
    // exact day-count rationals into one divide, one multiply, one add
    // (identical single-rounded IEEE in both engines). Rows are tagged
    // exact / interp / edge so consumers can weight accordingly.
    QuerySpec(
      "q172_interp_fill",
      Some(s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
            ${Exact.sqlDsum("value")} AS day_value
          FROM events GROUP BY 1, 2),
        span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
          FROM daily GROUP BY 1),
        spine AS (SELECT user_id, CAST(d AS DATE) AS day FROM (
            SELECT user_id,
              unnest(generate_series(CAST(d0 AS TIMESTAMP),
                CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS d
            FROM span) z),
        j AS (SELECT s.user_id, s.day, d.day_value
          FROM spine s LEFT JOIN daily d
            ON d.user_id = s.user_id AND d.day = s.day),
        n AS (SELECT user_id, day, day_value,
            last_value(day_value IGNORE NULLS) OVER w AS pv,
            last_value(CASE WHEN day_value IS NOT NULL THEN day END
              IGNORE NULLS) OVER w AS pd,
            first_value(day_value IGNORE NULLS) OVER f AS nv,
            first_value(CASE WHEN day_value IS NOT NULL THEN day END
              IGNORE NULLS) OVER f AS nd
          FROM j
          WINDOW w AS (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            f AS (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT user_id, day,
          CASE WHEN day_value IS NOT NULL THEN day_value
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                / CAST(nd - pd AS DOUBLE))
            ELSE COALESCE(pv, nv) END AS filled_value,
          CASE WHEN day_value IS NOT NULL THEN 'exact'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
            ELSE 'edge' END AS fill_kind
        FROM n"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("user_id"), col("ts").cast("date").as("day"))
          .agg(Exact.dsum(col("value")).as("day_value"))
        val spine = daily.groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val wP = Window.partitionBy(col("user_id")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wF = Window.partitionBy(col("user_id")).orderBy(col("day"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val known = when(col("day_value").isNotNull, col("day"))
        spine.join(daily, Seq("user_id", "day"), "left_outer")
          .withColumn("pv", last(col("day_value"), ignoreNulls = true)
            .over(wP))
          .withColumn("pd", last(known, ignoreNulls = true).over(wP))
          .withColumn("nv", first(col("day_value"), ignoreNulls = true)
            .over(wF))
          .withColumn("nd", first(known, ignoreNulls = true).over(wF))
          .select(col("user_id"), col("day"),
            when(col("day_value").isNotNull, col("day_value"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                col("pv") + (col("nv") - col("pv"))
                  * (datediff(col("day"), col("pd")).cast("double")
                    / datediff(col("nd"), col("pd")).cast("double")))
              .otherwise(coalesce(col("pv"), col("nv")))
              .as("filled_value"),
            when(col("day_value").isNotNull, "exact")
              .when(col("pv").isNotNull && col("nv").isNotNull, "interp")
              .otherwise("edge").as("fill_kind"))
      }),

    // ---- activity profile (day-of-week x hour heatmap) ----------------------
    // The seasonality sheet capacity planning reads: event share per
    // (weekday, hour) cell. Weekday comes from EPOCH-DAY ARITHMETIC
    // ((days + 4) % 7, anchored on 1970-01-01 = Thursday) because the
    // engines' dayofweek() builtins disagree on numbering; hour() agrees
    // on naive timestamps. One 168-cell rollup, shares as int64->double
    // divides against a 1-row broadcast total.
    QuerySpec(
      "q173_activity_profile",
      Some("""WITH e AS (SELECT
            (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7
              AS dow,
            CAST(hour(ts) AS INT) AS hod
          FROM events),
        g AS (SELECT dow, hod, CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
        SELECT dow, hod, n,
          CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share
        FROM g, t"""),
      (s, d) => {
        val g = t(s, d, "events")
          .select(((datediff(col("ts").cast("date"), lit("1970-01-01"))
              .cast("long") + 4) % 7).as("dow"),
            hour(col("ts")).cast("int").as("hod"))
          .groupBy(col("dow"), col("hod"))
          .agg(count(lit(1)).as("n"))
          .cache() // 168 cells; feeds the total too
        val tot = g.agg(sum(col("n")).as("tot"))
        g.crossJoin(broadcast(tot)) // 1-row scalar total
          .select(col("dow"), col("hod"), col("n"),
            (col("n").cast("double") / col("tot").cast("double"))
              .as("share"))
      }),

    // ---- inter-event time statistics (think-time distribution) --------------
    // The distribution that calibrates session-gap thresholds (q155's
    // 30-minute knob) and bot detection: per event type, the per-user
    // inter-arrival gaps in ms. One (user, type)-keyed lag window, then a
    // |types|-group quantile rollup over exact int64 gaps — quantile
    // interpolation is the pinned (1-f)*lo + f*hi form both engines
    // share (QuantilesSpec).
    QuerySpec(
      "q174_interevent_stats",
      Some("""WITH e AS (SELECT event_type, user_id,
            epoch_ms(ts) AS ms, event_id FROM events),
        g AS (SELECT event_type,
            ms - lag(ms) OVER (PARTITION BY event_type, user_id
              ORDER BY ms, event_id) AS gap
          FROM e)
        SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
          quantile_cont(gap, 0.5) AS p50_ms,
          quantile_cont(gap, 0.9) AS p90_ms,
          CAST(MAX(gap) AS BIGINT) AS max_ms
        FROM g WHERE gap IS NOT NULL GROUP BY 1"""),
      (s, d) => {
        val w = Window.partitionBy(col("event_type"), col("user_id"))
          .orderBy(col("ms"), col("event_id"))
        t(s, d, "events")
          .select(col("event_type"), col("user_id"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"),
            col("event_id"))
          .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(col("gap")).as("n_gaps"),
            expr("percentile(gap, 0.5)").as("p50_ms"),
            expr("percentile(gap, 0.9)").as("p90_ms"),
            max(col("gap")).cast("long").as("max_ms"))
      }),

    // ---- time-to-convert (funnel latency) -----------------------------------
    // q107 counts WHO converts; this measures HOW LONG conversion takes:
    // first view -> first subsequent purchase per user, summarized as a
    // conversion rate and delay quantiles. Two user_id-keyed aggregates
    // (first-view pass, then purchases-after-view join sharing the same
    // key exchange) — delays are exact epoch-ms int64s into the pinned
    // quantile interpolation.
    QuerySpec(
      "q177_time_to_convert",
      Some("""WITH v AS (SELECT user_id, MIN(epoch_ms(ts)) AS v_ms
            FROM events WHERE event_type = 'view' GROUP BY 1),
        p AS (SELECT e.user_id,
            MIN(epoch_ms(e.ts)) - MAX(v.v_ms) AS delay_ms
          FROM events e JOIN v ON v.user_id = e.user_id
            AND epoch_ms(e.ts) > v.v_ms
          WHERE e.event_type = 'purchase' GROUP BY 1)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
          CAST(COUNT(*) AS BIGINT) AS n_converted,
          CAST(COUNT(*) AS DOUBLE)
            / (SELECT CAST(COUNT(*) AS DOUBLE) FROM v) AS conversion,
          quantile_cont(delay_ms, 0.5) AS p50_delay_ms,
          quantile_cont(delay_ms, 0.9) AS p90_delay_ms
        FROM p"""),
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ms")).as("v_ms"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(v, Seq("user_id"))
          .filter(col("ms") > col("v_ms"))
          .groupBy(col("user_id"))
          .agg((min(col("ms")) - max(col("v_ms"))).as("delay_ms"))
        val nv = v.agg(count(lit(1)).as("n_viewed"))
        p.crossJoin(broadcast(nv)) // 1-row scalar viewer count
          .agg(max(col("n_viewed")).cast("long").as("n_viewed"),
            count(lit(1)).as("n_converted"),
            (count(lit(1)).cast("double")
              / max(col("n_viewed")).cast("double")).as("conversion"),
            expr("percentile(delay_ms, 0.5)").as("p50_delay_ms"),
            expr("percentile(delay_ms, 0.9)").as("p90_delay_ms"))
      }),

    // ---- bounded synchronous label propagation ------------------------------
    // Community seeding on the co-order part graph (Raghavan et al. 2007,
    // min-label variant — deterministic, no random tie-breaks): every
    // node starts as its own label and each SYNCHRONOUS round takes the
    // min of its own and its neighbors' labels; a FIXED round count (3)
    // is the operator (the converged fixpoint is q48's connected
    // components — this is the bounded-round primitive pipelines compose
    // when full convergence is too expensive). Each round is ONE
    // co-partitioned join on the node key + a partial-agg min — O(E) per
    // round, round count data-independent. The oracle unrolls the same 3
    // rounds as CTEs. Edges reuse the q112/q135 support-thresholded
    // co-order pairs (fan-out bounded by order width).
    QuerySpec(
      "q185_label_prop",
      Some(s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
              FROM lineitem),
        pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey),
        pe AS (SELECT pa, pb FROM pr GROUP BY pa, pb
          HAVING COUNT(*) >= $LpMinSupport),
        e AS (SELECT pa AS s, pb AS t FROM pe
          UNION ALL SELECT pb AS s, pa AS t FROM pe),
        l0 AS (SELECT DISTINCT s AS v, s AS lbl FROM e),
        l1 AS (SELECT cur.v, LEAST(cur.lbl, MIN(nb.lbl)) AS lbl
          FROM l0 cur JOIN e ON e.s = cur.v JOIN l0 nb ON nb.v = e.t
          GROUP BY cur.v, cur.lbl),
        l2 AS (SELECT cur.v, LEAST(cur.lbl, MIN(nb.lbl)) AS lbl
          FROM l1 cur JOIN e ON e.s = cur.v JOIN l1 nb ON nb.v = e.t
          GROUP BY cur.v, cur.lbl),
        l3 AS (SELECT cur.v, LEAST(cur.lbl, MIN(nb.lbl)) AS lbl
          FROM l2 cur JOIN e ON e.s = cur.v JOIN l2 nb ON nb.v = e.t
          GROUP BY cur.v, cur.lbl)
        SELECT lbl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM l3 GROUP BY 1"""),
      (s, d) => {
        // pair build via the shared basket fan-out — see Baskets' header
        val pe = Baskets
          .pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .filter(col("w") >= LpMinSupport)
        val e = pe.select(col("pa").as("s"), col("pb").as("t"))
          .unionAll(pe.select(col("pb").as("s"), col("pa").as("t")))
          .cache() // reused every round
        var labels = e.select(col("s").as("v")).distinct()
          .withColumn("lbl", col("v"))
          .localCheckpoint(true)
        for (_ <- 1 to LpRounds) {
          val nbMin = e.join(labels
              .select(col("v").as("tv"), col("lbl").as("nlbl")),
              col("t") === col("tv"))
            .groupBy(col("s")).agg(min(col("nlbl")).as("nmin"))
          labels = labels.join(nbMin, col("v") === col("s"))
            .select(col("v"), least(col("lbl"), col("nmin")).as("lbl"))
            // each round references `labels` TWICE (neighbor side + the
            // outer join), so without a per-round lineage cut the plan
            // tree — and its EXECUTION, since Spark does not share
            // common subtrees across join sides — doubles per round
            // (2^rounds copies of the base subtree). Node-grain eager
            // checkpoint, the q48/q261 discipline.
            .localCheckpoint(true)
        }
        labels.groupBy(col("lbl").as("cluster"))
          .agg(count(lit(1)).as("n_parts"))
      }),

    // ---- neighborhood Jaccard similarity ------------------------------------
    // "Customers who bought X also bought Y, normalized": the Jaccard of
    // two parts' order sets — cooc / (|A| + |B| − cooc) — over the q112
    // co-occurrence grain. All counts are exact ints off ONE distinct
    // (order,part) projection: the pair counts from the co-partitioned
    // order-key self-join (fan-out bounded by order width), per-part
    // order counts from the same projection, joined back on the part
    // keys. Top-20 under a TOTAL order (jaccard desc, pa, pb — the
    // double sorts identically in both engines because it is the same
    // single divide of the same ints) via TakeOrdered, never a global
    // sort.
    QuerySpec(
      "q186_copurchase_jaccard",
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
              FROM lineitem),
        cnt AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
          FROM op GROUP BY 1),
        pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        j AS (SELECT pa, pb, c, ca.n AS na, cb.n AS nb,
            CAST(c AS DOUBLE) / CAST(ca.n + cb.n - c AS DOUBLE) AS jaccard
          FROM pr JOIN cnt ca ON ca.l_partkey = pa
            JOIN cnt cb ON cb.l_partkey = pb)
        SELECT pa, pb, c AS n_cooc, na, nb, jaccard FROM j
        ORDER BY jaccard DESC, pa, pb LIMIT 20"""),
      (s, d) => {
        // ONE cached basket aggregation feeds both the pair counts and
        // the per-part order counts (the old shape re-derived each from
        // its own scan+exchange of the distinct projection) — see
        // Baskets' header
        val bk = Baskets
          .baskets(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
          .cache()
        val cnt = Baskets.itemCounts(bk)
        val pr = Baskets.pairCountsFrom(bk)
          .select(col("pa"), col("pb"), col("w").as("c"))
        pr.join(cnt.select(col("p").as("ka"), col("n").as("na")),
            col("ka") === col("pa"))
          .join(cnt.select(col("p").as("kb"), col("n").as("nb")),
            col("kb") === col("pb"))
          .select(col("pa"), col("pb"), col("c").as("n_cooc"), col("na"),
            col("nb"),
            (col("c").cast("double")
              / (col("na") + col("nb") - col("c")).cast("double"))
              .as("jaccard"))
          .orderBy(col("jaccard").desc, col("pa"), col("pb"))
          .limit(20)
      }),

    // ---- trailing-window rolling median -------------------------------------
    // The robust smoother plain moving averages aren't: each event gets
    // the median of its user's values over the trailing 6 hours. The
    // series key (user_id) is the partition — the natural distribution
    // for per-entity time series (the q172 discipline); the RANGE frame
    // on epoch-ms bounds the per-row working set by time, not corpus.
    // Median is the collect+sort+two-product interpolation over exact
    // cents — identical to DuckDB's windowed quantile_cont(0.5) (the
    // interpolation form QuantilesSpec pins). Range frames take a single
    // numeric sort key, so same-ms peers are IN frame on both engines
    // identically — no tiebreak dialect to align.
    QuerySpec(
      "q188_rolling_median",
      Some(s"""WITH e AS (SELECT user_id, event_id,
            CAST(round(value * 100, 0) AS BIGINT) AS cents,
            epoch_ms(ts) AS ms FROM events)
        SELECT user_id, event_id, cents,
          median(cents) OVER (PARTITION BY user_id ORDER BY ms
            RANGE BETWEEN $RollMedianMs PRECEDING AND CURRENT ROW)
            AS roll_med
        FROM e"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
          .rangeBetween(-RollMedianMs, 0)
        val arr = array_sort(collect_list(col("cents")).over(w))
        val hD = (size(arr) - 1).cast("double") * lit(0.5)
        val frac = hD - floor(hD)
        val lo = element_at(arr, floor(hD).cast("int") + 1).cast("double")
        val hi = element_at(arr, ceil(hD).cast("int") + 1).cast("double")
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            round(col("value") * 100, 0).cast("long").as("cents"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
          .withColumn("roll_med",
            (lit(1.0) - frac) * lo + frac * hi)
          .drop("ms")
      }),

    // ---- survivorship merge (column-wise best record) -----------------------
    // The MDM/golden-record operator: per entity, each COLUMN survives
    // independently — the latest event type overall, the latest CLICK
    // value, the latest PURCHASE value, the latest SIGNUP props — rather
    // than q24's whole-row latest-wins. One user_id exchange shared by
    // all four ignoreNulls first-value windows (full-partition frame) and
    // the rank that picks the output row; ties order on event_id (the
    // q127 discipline). first(·, ignoreNulls) and DuckDB's
    // `first_value(· IGNORE NULLS)` agree — the q172 dialect pairing.
    QuerySpec(
      "q191_survivorship",
      Some("""WITH w AS (SELECT user_id,
            first_value(event_type) OVER win AS last_type,
            first_value(CASE WHEN event_type = 'click' THEN value END
              IGNORE NULLS) OVER win AS last_click_value,
            first_value(CASE WHEN event_type = 'purchase' THEN value END
              IGNORE NULLS) OVER win AS last_purchase_value,
            first_value(CASE WHEN event_type = 'signup' THEN props END
              IGNORE NULLS) OVER win AS last_signup_props,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WINDOW win AS (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        SELECT user_id, last_type, last_click_value, last_purchase_value,
          last_signup_props
        FROM w WHERE rn = 1"""),
      (s, d) => {
        val ord = Seq(col("ts").desc, col("event_id").desc)
        val win = Window.partitionBy(col("user_id")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        val wr = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        t(s, d, "events")
          .withColumn("last_type", first(col("event_type")).over(win))
          .withColumn("last_click_value",
            first(when(col("event_type") === "click", col("value")),
              ignoreNulls = true).over(win))
          .withColumn("last_purchase_value",
            first(when(col("event_type") === "purchase", col("value")),
              ignoreNulls = true).over(win))
          .withColumn("last_signup_props",
            first(when(col("event_type") === "signup", col("props")),
              ignoreNulls = true).over(win))
          .withColumn("rn", row_number().over(wr))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("last_type"),
            col("last_click_value"), col("last_purchase_value"),
            col("last_signup_props"))
      }),

    // ---- systematic sampling ------------------------------------------------
    // Every K-th record of the keyed stream — the audit/QA sample with
    // guaranteed even coverage that Bernoulli sampling can't give. The global
    // position is an operators.BlockScan running count on the key block — no
    // single-task window. Row-local modulus picks ranks 1, K+1, 2K+1, …
    QuerySpec(
      "q192_systematic_sample",
      Some(s"""WITH r AS (SELECT o_orderkey,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
            CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS rk
          FROM orders)
        SELECT rk, o_orderkey, cents FROM r
        WHERE rk % $SysSampleK = 1"""),
      (s, d) => {
        val blockBits = 14
        val o = t(s, d, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          .cache() // feeds BlockScan's window AND its block totals
        BlockScan.runningSums(o, expr(s"o_orderkey div ${1L << blockBits}"),
            Seq(col("o_orderkey")), Seq("rk" -> lit(1L)))
          .filter(col("rk") % SysSampleK === 1)
          .select(col("rk"), col("o_orderkey"), col("cents"))
      }),

    // ---- exponential smoothing (EWMA, α = 1/2) ------------------------------
    // The classic recursive smoother e_t = α·x_t + (1−α)·e_{t−1}, made
    // associative-exact by fixing α = 1/2: every weight is a NEGATIVE
    // POWER OF TWO, so each term x_k / 2^j is one exact IEEE divide (no
    // pow(), no libm variance), and the sum runs on the Exact decimal
    // grid — order-independent. The recursion unrolls to e_t =
    // x_1/2^(t−1) + Σ_{k=2..t} x_k/2^(t−k+1); weights beyond 2^62 are
    // exactly 0 on the round-4 grid (term < 5e-15 · max cents), so the
    // shift caps at 62 identically in both engines. Distributed shape:
    // the series collapses to the (type, day) grain first (one
    // partial-agg shuffle; grain = |types| × |days in range|, corpus-size
    // independent), and the unrolled sum is a self-join of that BOUNDED
    // grain co-partitioned on the type — fan-out ≤ |days|, never
    // fact-sized. The day index comes from a per-type window over the
    // same bounded grain.
    QuerySpec(
      "q198_ewma",
      Some(s"""WITH daily AS (SELECT event_type,
            CAST(ts AS DATE) AS day,
            CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        ix AS (SELECT event_type, day, x,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
          FROM daily),
        terms AS (SELECT a.event_type, a.day, a.t, a.x,
            CASE WHEN b.t = 1 THEN a.t - 1 ELSE a.t - b.t + 1 END AS j,
            b.x AS xk
          FROM ix a JOIN ix b
            ON b.event_type = a.event_type AND b.t <= a.t)
        SELECT event_type, day, MAX(t) AS t, MAX(x) AS x_cents,
          ${Exact.sqlDsum("""CASE WHEN j <= 62
              THEN CAST(xk AS DOUBLE) / CAST(CAST(1 AS BIGINT) << j AS DOUBLE)
              ELSE 0.0 END""")} AS ewma
        FROM terms GROUP BY event_type, day"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("x"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val ix = daily.withColumn("t", row_number().over(w).cast("long"))
          .cache() // bounded grain feeds both sides of the unroll join
        val b = ix.select(col("event_type"), col("t").as("tk"),
          col("x").as("xk"))
        val j = when(col("tk") === 1, col("t") - 1)
          .otherwise(col("t") - col("tk") + 1)
        ix.join(b, Seq("event_type"))
          .filter(col("tk") <= col("t"))
          .withColumn("j", j)
          .withColumn("term", when(col("j") <= 62,
            col("xk").cast("double")
              / expr("cast(shiftleft(1L, cast(j as int)) as double)"))
            .otherwise(lit(0.0)))
          .groupBy(col("event_type"), col("day"))
          .agg(max(col("t")).as("t"), max(col("x")).as("x_cents"),
            graft.functions.Exact.dsum(col("term")).as("ewma"))
      }),

    // ---- point-in-time reconstruction (time travel over a CDC log) ----------
    // q163's sibling: q163 compacts the FULL change log to its latest
    // state; this reconstructs the table AS OF an earlier version cutoff
    // — the lakehouse "time travel" read. Same CDC conventions (events as
    // the change stream: user_id key, ts version order, purchase =
    // tombstone): filter the log to versions <= the cutoff FIRST (at
    // 100 TB the log is date-partitioned, so the cutoff is partition
    // pruning, not a scan filter), then one keyed ranking window picks
    // each key's latest surviving row, tombstones drop, and the
    // reconstructed state aggregates per type. One exchange on the key.
    QuerySpec(
      "q201_time_travel",
      Some("""WITH f AS (SELECT * FROM events
            WHERE CAST(ts AS DATE) <= DATE '2024-01-15'),
        r AS (SELECT user_id, event_type, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM f),
        l AS (SELECT * FROM r WHERE rn = 1
          AND event_type <> 'purchase')
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
            AS total_cents
        FROM l GROUP BY 1"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .filter(to_date(col("ts")) <= lit("2024-01-15").cast("date"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("event_type") =!= "purchase")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_keys"),
            sum(round(col("value") * 100, 0).cast("long")).cast("long")
              .as("total_cents"))
      }),

    // ---- behavior profiles (set-valued segmentation) ------------------------
    // Segment users by their DOMINANT event types — the types they
    // perform at least as often as their own per-type average (the
    // relative threshold is CROSS-MULTIPLIED onto the integer grid:
    // n_type · k ≥ total, no float division) — the capability-profile
    // rollup a lifecycle team reads ("how many users are
    // click+view-dominant but never purchase-dominant?"). A raw
    // distinct-type set is useless here (every active user eventually
    // touches every type); the dominance filter is what discriminates.
    // The set collapses to a canonical string key (sorted, '|'-joined —
    // set order is nondeterministic, the sort makes the key stable and
    // engine-portable). Two partial-agg shuffles: (user, type) grain,
    // then profile grain.
    QuerySpec(
      "q213_behavior_profiles",
      Some("""WITH pc AS (SELECT user_id, event_type,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k FROM pc GROUP BY 1),
        u AS (SELECT pc.user_id,
            array_to_string(list_sort(list_distinct(
              list(event_type) FILTER (pc.n * t.k >= t.tot))), '|')
              AS profile,
            CAST(SUM(pc.n) AS BIGINT) AS n_events
          FROM pc JOIN t USING (user_id) GROUP BY 1)
        SELECT profile, CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(n_events) AS BIGINT) AS n_events,
          CAST(MIN(user_id) AS BIGINT) AS first_user
        FROM u GROUP BY 1"""),
      (s, d) => {
        val pc = t(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val tot = pc.groupBy(col("user_id"))
          .agg(sum(col("n")).cast("long").as("tot"),
            count(lit(1)).as("k"))
        pc.join(tot, "user_id")
          .groupBy(col("user_id"))
          .agg(concat_ws("|", array_sort(collect_set(
              when(col("n") * col("k") >= col("tot"), col("event_type")))))
            .as("profile"),
            sum(col("n")).cast("long").as("n_events"))
          .groupBy(col("profile"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("n_events")).cast("long").as("n_events"),
            min(col("user_id")).as("first_user"))
      }),

    // ---- burst detection (integer threshold, gap-islands runs) --------------
    // Find sustained traffic bursts per event type: maximal runs of
    // consecutive days whose volume exceeds 1.1× the series mean. The
    // threshold compare is CROSS-MULTIPLIED onto the integer grid
    // (10·D·x_d > 11·T — no float mean anywhere), burst runs are gap-islands
    // (day_index − rank) over the bounded (type, day) grain, and the
    // output is per-type run statistics plus the peak day
    // (earliest-day tie-break, the q195 discipline). One partial-agg
    // shuffle to the day grain; everything downstream is bounded.
    QuerySpec(
      "q216_bursts",
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS dd,
            CAST(SUM(x) AS BIGINT) AS tt FROM daily GROUP BY 1),
        ix AS (SELECT daily.event_type, daily.day, daily.x, tot.dd, tot.tt,
            CAST(ROW_NUMBER() OVER (PARTITION BY daily.event_type
              ORDER BY daily.day) AS BIGINT) AS t
          FROM daily JOIN tot ON tot.event_type = daily.event_type),
        b AS (SELECT *, t - ROW_NUMBER() OVER (
              PARTITION BY event_type ORDER BY t) AS island
          FROM ix WHERE 10 * dd * x > 11 * tt),
        runs AS (SELECT event_type, island,
            CAST(COUNT(*) AS BIGINT) AS run_len,
            MIN(day) AS run_start, CAST(MAX(x) AS BIGINT) AS peak_x
          FROM b GROUP BY 1, 2),
        mx AS (SELECT event_type, MAX(run_len) AS m FROM runs GROUP BY 1)
        SELECT runs.event_type,
          CAST(COUNT(*) AS BIGINT) AS n_bursts,
          CAST(SUM(run_len) AS BIGINT) AS burst_days,
          MAX(mx.m) AS longest_run,
          MIN(CASE WHEN run_len = mx.m THEN run_start END) AS top_run_start
        FROM runs JOIN mx ON mx.event_type = runs.event_type
        GROUP BY 1"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val tot = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("dd"), sum(col("x")).cast("long").as("tt"))
        val wT = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val ix = daily.join(broadcast(tot), "event_type")
          .withColumn("t", row_number().over(wT).cast("long"))
        val wI = Window.partitionBy(col("event_type")).orderBy(col("t"))
        val runs = ix.filter(
            lit(10L) * col("dd") * col("x") > lit(11L) * col("tt"))
          .withColumn("island", col("t") - row_number().over(wI))
          .groupBy(col("event_type"), col("island"))
          .agg(count(lit(1)).as("run_len"), min(col("day")).as("run_start"),
            max(col("x")).cast("long").as("peak_x"))
        val mx = runs.groupBy(col("event_type"))
          .agg(max(col("run_len")).as("m"))
        runs.join(broadcast(mx), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_bursts"),
            sum(col("run_len")).cast("long").as("burst_days"),
            max(col("m")).as("longest_run"),
            min(when(col("run_len") === col("m"), col("run_start")))
              .as("top_run_start"))
      }),

    // ---- Jaro-Winkler blocked linkage (native codegen expression) ----------
    // Entity-resolution measure #3 next to Levenshtein (q110) and the
    // LSH families: Jaro-Winkler over MULTI-PASS blocking (first token
    // and last token — the classic record-linkage trick of unioning
    // several cheap blocking keys so a single bad key can't hide true
    // matches). Spark has no built-in Jaro-Winkler, so this is the
    // SURVEY §7.3 native-Expression path: `graft.expressions.JaroWinkler`
    // evaluates inside whole-stage codegen, bit-matched to the oracle's
    // implementation (same match window, integer transposition halving,
    // >0.7 boost gate — see the expression's scaladoc for the pinned
    // semantics battery).
    // 100 TB plan: pairs are generated on the DISTINCT-name grain
    // (vocabulary-bounded, not row-bounded) and each blocking pass is a
    // co-partitioned self-join on its token key; candidate count is
    // Σ n_block² with token granularity as the occupancy knob.
    QuerySpec(
      "q218_jw_linkage",
      Some("""WITH nm AS (SELECT DISTINCT p_name FROM part),
          tk AS (SELECT p_name,
              string_split(p_name, ' ')[1] AS tok_f,
              string_split(p_name, ' ')[-1] AS tok_l
            FROM nm),
          cand AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b
              FROM tk a JOIN tk b
                ON a.tok_f = b.tok_f AND a.p_name < b.p_name
            UNION ALL
            SELECT a.p_name AS name_a, b.p_name AS name_b
              FROM tk a JOIN tk b
                ON a.tok_l = b.tok_l AND a.p_name < b.p_name),
          pr AS (SELECT name_a, name_b,
              CAST(COUNT(*) AS BIGINT) AS n_blocks
            FROM cand GROUP BY 1, 2)
          SELECT name_a, name_b, n_blocks,
            round(jaro_winkler_similarity(name_a, name_b), 4) AS jw
          FROM pr
          WHERE jaro_winkler_similarity(name_a, name_b) >= 0.5"""),
      (s, d) => {
        val tk = t(s, d, "part").select(col("p_name")).distinct()
          .withColumn("toks", split(col("p_name"), " "))
          .select(col("p_name"),
            element_at(col("toks"), 1).as("tok_f"),
            element_at(col("toks"), -1).as("tok_l"))
        def pass(key: String) = {
          val a = tk.select(col(key), col("p_name").as("name_a"))
          val b = tk.select(col(key), col("p_name").as("name_b"))
          a.join(b, key).filter(col("name_a") < col("name_b"))
            .select(col("name_a"), col("name_b"))
        }
        pass("tok_f").unionAll(pass("tok_l"))
          .groupBy(col("name_a"), col("name_b"))
          .agg(count(lit(1)).as("n_blocks"))
          .withColumn("jw_raw", expr("jaro_winkler(name_a, name_b)"))
          .filter(col("jw_raw") >= 0.5)
          .select(col("name_a"), col("name_b"), col("n_blocks"),
            round(col("jw_raw"), 4).as("jw"))
      })
  )
}
