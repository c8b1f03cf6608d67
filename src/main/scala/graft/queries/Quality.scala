package graft.queries

import graft.Tables
import graft.functions.Portable
import graft.operators.BlockScan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketching, interval-algebra, and data-quality operators.
  *
  * The count-min sketch here is implemented IN the engine's expression
  * language (portable md5 hashes, integer counters) rather than behind an
  * opaque binary — so unlike the usual "approximate therefore unchecked"
  * treatment, the estimates themselves hash-match the DuckDB oracle
  * bit-for-bit. Same contract as every family: DSL + oracle SQL from the
  * same Scala constants.
  */
object Quality {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** q326 Bloom geometry: m bits / k hashes. 2^16 bits as 2048 32-bit
    * words (in int64 cells — DuckDB's checked BIGINT shift forbids bit
    * 63) keeps the state one broadcastable row group; k=3 puts the
    * fixture's load factor in the few-percent FPR regime.
    */
  private val BloomBits = 65536
  private val BloomHashes = 3

  /** Count-min sketch geometry: D hash rows of W counters. W is the
    * accuracy knob (eps ≈ e/W); D drives the confidence. 3x1024 keeps the
    * sketch 24 KB — broadcastable state for a stream of any cardinality.
    */
  private[graft] val CmsW = 1024
  private[graft] val CmsD = 3

  /** Sweep-line block size (6 h of boundaries per prefix-sum block). */
  private val SweepBlockMs = 6L * 3600L * 1000L

  /** Observation hold window for the concurrency sweep. */
  private val HoldMinutes = 15

  /** Freshness rule cutoff: ship dates after this are violations. */
  private val FreshCutoff = "1998-12-31 00:00:00"

  /** HLL geometry: 64 registers (top 6 hash bits), 54-bit rank field. */
  private[graft] val HllField = 1L << 54

  /** alpha_64 * m^2 * 2^56 — one Scala-computed double literal shared by
    * both engines so the estimate arithmetic is identical single
    * roundings. alpha_64 = 0.7213 / (1 + 1.079/64).
    */
  private val HllEstNum: Double =
    0.7213 / (1 + 1.079 / 64) * 64 * 64 * math.pow(2, 56)

  val all: Seq[QuerySpec] = Seq(

    // ---- count-min sketch heavy-hitter estimates ----------------------------
    // CMS (Cormode & Muthukrishnan '05) as relational algebra: D portable
    // hashes bucket every occurrence into a DxW counter grid (ONE
    // partial-agg shuffle whose output is <= D*W rows regardless of input
    // size), and a key's estimate is the min of its D counters. Unlike
    // Spark's built-in binary sketch, every counter and estimate here is
    // engine-portable, so the oracle checks the ESTIMATES, not just
    // bounds. The no-underestimate invariant rides along as a computed
    // boolean (same expression both sides).
    // 100 TB posture: sketch build is scan + bounded-key aggregate; the
    // probe side is |distinct keys| x D rows broadcast against the grid.
    QuerySpec(
      "q131_cms", {
        val h = Portable.h64Duck("k || '#' || CAST(i AS VARCHAR)")
        Some(s"""WITH ks AS (SELECT event_type AS k, COUNT(*) AS exact_n
            FROM events GROUP BY 1),
          pts AS (SELECT event_type AS k, i
            FROM events, (SELECT unnest([0, 1, 2]) AS i) z),
          cms AS (SELECT i, ($h) % $CmsW AS b, COUNT(*) AS c
            FROM pts GROUP BY 1, 2),
          probes AS (SELECT k, i, ($h) % $CmsW AS b
            FROM ks, (SELECT unnest([0, 1, 2]) AS i) z),
          est AS (SELECT k, MIN(c) AS cms_est
            FROM probes JOIN cms USING (i, b) GROUP BY k)
          SELECT ks.k AS event_type, ks.exact_n, est.cms_est,
            (est.cms_est >= ks.exact_n) AS never_under
          FROM ks JOIN est USING (k)""")
      },
      (s, d) => {
        val h = Portable.h64Spark("concat(k, '#', cast(i as string))")
        val ev = t(s, d, "events").select(col("event_type").as("k"))
        val cms = ev
          .select(col("k"), explode(expr(s"sequence(0, ${CmsD - 1})"))
            .as("i"))
          .withColumn("b", expr(s"($h) % $CmsW"))
          .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
        val ks = ev.groupBy(col("k")).agg(count(lit(1)).as("exact_n"))
        val probes = ks
          .select(col("k"), explode(expr(s"sequence(0, ${CmsD - 1})"))
            .as("i"))
          .withColumn("b", expr(s"($h) % $CmsW"))
        val est = broadcast(probes).join(cms, Seq("i", "b"))
          .groupBy(col("k")).agg(min(col("c")).as("cms_est"))
        ks.join(est, "k")
          .select(col("k").as("event_type"), col("exact_n"),
            col("cms_est"),
            (col("cms_est") >= col("exact_n")).as("never_under"))
      }),

    // ---- sweep-line concurrency (interval algebra) --------------------------
    // "How many observations are simultaneously open?" — each event holds
    // for 15 minutes; +1/-1 boundary points under a STRICT total order
    // (t, delta, event_id — closes sort before opens at the same instant)
    // feed a running sum whose per-day max is the concurrency profile. The
    // global prefix sum is operators.BlockScan on a 6-hour block key. DuckDB
    // runs the same total order single-threaded — identical running values,
    // no float anywhere.
    QuerySpec(
      "q132_concurrency",
      Some(s"""WITH b AS (
          SELECT ts AS t, 1 AS delta, event_id FROM events
          UNION ALL
          SELECT ts + INTERVAL $HoldMinutes MINUTE, -1, event_id
          FROM events),
        r AS (SELECT t, CAST(SUM(delta) OVER (
              ORDER BY t, delta, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS conc
          FROM b)
        SELECT CAST(t AS DATE) AS day, COUNT(*) AS n_boundaries,
          MAX(conc) AS peak_concurrency
        FROM r GROUP BY 1"""),
      (s, d) => {
        // the union reads it twice and the running sums read the union
        // twice
        val ev = t(s, d, "events").select(col("ts"), col("event_id")).cache()
        val b = ev.select(col("ts").as("t"), lit(1).as("delta"),
            col("event_id"))
          .unionByName(ev.select(
            (col("ts") + expr(s"INTERVAL $HoldMinutes MINUTES")).as("t"),
            lit(-1).as("delta"), col("event_id")))
        BlockScan.runningSums(b,
            expr(s"unix_millis(cast(t as timestamp)) div $SweepBlockMs"),
            Seq(col("t"), col("delta"), col("event_id")),
            Seq("conc" -> col("delta")))
          .groupBy(to_date(col("t")).as("day"))
          .agg(count(lit(1)).as("n_boundaries"),
            max(col("conc")).as("peak_concurrency"))
      }),

    // ---- data-quality rule engine (Deequ-style expectations) ----------------
    // The audit table a warehouse load publishes next to its data:
    // completeness (null rate), domain range, key uniqueness, referential
    // integrity, and freshness — each a (rule, violations, pass) row.
    // Shape: the three row-local rules fold into ONE scan-speed aggregate
    // and unpivot; uniqueness is a count-distinct; referential integrity
    // is a left-anti join against the parent keys. Nothing non-integer.
    QuerySpec(
      "q133_dq_checks",
      Some(s"""WITH m AS (SELECT
            CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_shipdate,
            CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
              THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
            CAST(SUM(CASE WHEN l_shipdate > TIMESTAMP '$FreshCutoff'
              THEN 1 ELSE 0 END) AS BIGINT) AS future_shipdate
          FROM lineitem),
        dup AS (SELECT CAST(COUNT(*)
              - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v
          FROM lineitem),
        orph AS (SELECT COUNT(*) AS v FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
            WHERE o.o_orderkey = l.l_orderkey))
        SELECT 'null_shipdate' AS rule, null_shipdate AS violations,
          null_shipdate = 0 AS pass FROM m
        UNION ALL SELECT 'quantity_range', quantity_range,
          quantity_range = 0 FROM m
        UNION ALL SELECT 'future_shipdate', future_shipdate,
          future_shipdate = 0 FROM m
        UNION ALL SELECT 'duplicate_line_key', v, v = 0 FROM dup
        UNION ALL SELECT 'orphan_orderkey', v, v = 0 FROM orph"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val rowLocal = li.agg(
            sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
              .as("null_shipdate"),
            sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L))
              .as("quantity_range"),
            sum(when(col("l_shipdate") > lit(FreshCutoff).cast("timestamp"),
              1L).otherwise(0L)).as("future_shipdate"))
          .select(expr("""stack(3,
            'null_shipdate', null_shipdate,
            'quantity_range', quantity_range,
            'future_shipdate', future_shipdate) AS (rule, violations)"""))
        val dup = li.agg((count(lit(1))
            - countDistinct(col("l_orderkey"), col("l_linenumber")))
            .as("violations"))
          .select(lit("duplicate_line_key").as("rule"), col("violations"))
        val orph = li.select(col("l_orderkey"))
          .join(t(s, d, "orders").select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("orphan_orderkey").as("rule"), col("violations"))
        rowLocal.unionByName(dup).unionByName(orph)
          .withColumn("pass", col("violations") === 0)
      }),

    // ---- HyperLogLog as relational algebra ----------------------------------
    // The q131 treatment applied to distinct counting (Flajolet et al.
    // '07): bucket = top 6 bits of the portable 60-bit hash, register =
    // max leading-zero rank of the remaining 54 bits — ONE partial-max
    // shuffle bounded by |groups| x 64 registers, mergeable state (max is
    // associative), no per-value memory. The register-sum state is kept
    // in EXACT integer form (2^(56-M) summed as longs — no float
    // harmonic mean), so z_scaled and n_empty hash-match the oracle
    // bit-for-bit; the estimate check rides along as a boolean computed
    // from the same literals on both sides. bin() drops leading zeros
    // identically in both engines (rank = 55 - length(bin(rest))).
    QuerySpec(
      "q134_hll", {
        val h = Portable.h64Duck("CAST(l_partkey AS VARCHAR)")
        Some(s"""WITH x AS (SELECT l_returnflag AS g,
            ($h) // $HllField AS bucket, ($h) % $HllField AS rest
          FROM lineitem),
        reg AS (SELECT g, bucket,
            MAX(CASE WHEN rest = 0 THEN 55
                ELSE 55 - length(bin(rest)) END) AS m
          FROM x GROUP BY g, bucket),
        z AS (SELECT g, COUNT(*) AS present,
            CAST(SUM(CAST(1 AS BIGINT) << CAST(56 - m AS INTEGER))
              AS BIGINT) AS zp
          FROM reg GROUP BY g),
        e AS (SELECT l_returnflag AS g,
            COUNT(DISTINCT l_partkey) AS exact_parts
          FROM lineitem GROUP BY 1)
        SELECT e.g AS l_returnflag, e.exact_parts,
          zp + (64 - present) * (CAST(1 AS BIGINT) << 56) AS z_scaled,
          CAST(64 - present AS BIGINT) AS n_empty,
          (abs($HllEstNum
              / (zp + (64 - present) * (CAST(1 AS BIGINT) << 56))
            - exact_parts) <= 0.25 * exact_parts) AS est_ok
        FROM e JOIN z ON z.g = e.g""")
      },
      (s, d) => {
        val h = Portable.h64Spark("cast(l_partkey as string)")
        val li = t(s, d, "lineitem")
        val x = li.select(col("l_returnflag").as("g"),
          expr(s"($h) div $HllField").as("bucket"),
          expr(s"($h) % $HllField").as("rest"))
        val reg = x.groupBy(col("g"), col("bucket"))
          .agg(max(when(col("rest") === 0, 55)
            .otherwise(lit(55) - length(bin(col("rest"))))).as("m"))
        val z = reg.groupBy(col("g"))
          .agg(count(lit(1)).as("present"),
            sum(expr("shiftleft(cast(1 as bigint), cast(56 - m as int))"))
              .as("zp"))
        val e = li.groupBy(col("l_returnflag").as("g2"))
          .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        val zScaled =
          col("zp") + (lit(64) - col("present")) * lit(1L << 56)
        e.join(z, col("g2") === col("g"))
          .select(col("g2").as("l_returnflag"), col("exact_parts"),
            zScaled.as("z_scaled"),
            (lit(64) - col("present")).cast("long").as("n_empty"),
            (abs(lit(HllEstNum) / zScaled - col("exact_parts"))
              <= lit(0.25) * col("exact_parts")).as("est_ok"))
      }),

    // ---- per-user interval union (coverage) ---------------------------------
    // The other half of q132's interval algebra: q132 asks "how many
    // observations are open at once" (global sweep); this asks "how much
    // wall-clock does each user's activity COVER once overlapping holds
    // merge" — session stitching by interval union. Classic
    // gap-and-islands: an interval starts a new island iff its start
    // exceeds the running max of all previous ends; islands then reduce
    // to (min start, max end). All windows PARTITION BY user — no global
    // window anywhere, so the shape scales with the user-key shuffle
    // (compare q28's session windows, which gap on single events rather
    // than merging held intervals). Everything is integer epoch-ms.
    QuerySpec(
      "q141_interval_union",
      Some(s"""WITH iv AS (SELECT user_id, epoch_ms(ts) AS s,
          epoch_ms(ts) + ${HoldMinutes * 60000L} AS e FROM events),
        o AS (SELECT user_id, s, e,
            MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          FROM iv),
        isl AS (SELECT user_id, s, e,
            CAST(SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
          FROM o),
        m AS (SELECT user_id, island, MIN(s) AS i_s, MAX(e) AS i_e,
            COUNT(*) AS nev FROM isl GROUP BY 1, 2)
        SELECT user_id, CAST(SUM(nev) AS BIGINT) AS n_events,
          CAST(COUNT(*) AS BIGINT) AS n_islands,
          CAST(SUM(i_e - i_s) AS BIGINT) AS covered_ms,
          CAST(MAX(i_e) - MIN(i_s) AS BIGINT) AS span_ms,
          CAST(SUM(i_e - i_s) AS DOUBLE)
            / CAST(MAX(i_e) - MIN(i_s) AS DOUBLE) AS coverage
        FROM m GROUP BY 1"""),
      (s, d) => {
        val iv = t(s, d, "events").select(col("user_id"),
          expr("unix_millis(cast(ts as timestamp))").as("s"))
          .withColumn("e", col("s") + lit(HoldMinutes * 60000L))
        val wPrev = Window.partitionBy(col("user_id"))
          .orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val isl = iv.withColumn("prev_max", max(col("e")).over(wPrev))
          .withColumn("island",
            sum(when(col("prev_max").isNull || col("s") > col("prev_max"),
              1L).otherwise(0L)).over(wRun))
        val m = isl.groupBy(col("user_id"), col("island"))
          .agg(min(col("s")).as("i_s"), max(col("e")).as("i_e"),
            count(lit(1)).as("nev"))
        m.groupBy(col("user_id"))
          .agg(sum(col("nev")).cast("long").as("n_events"),
            count(lit(1)).as("n_islands"),
            sum(col("i_e") - col("i_s")).cast("long").as("covered_ms"),
            (max(col("i_e")) - min(col("i_s"))).cast("long").as("span_ms"),
            (sum(col("i_e") - col("i_s")).cast("double")
              / (max(col("i_e")) - min(col("i_s"))).cast("double"))
              .as("coverage"))
      }),

    // ---- freshness SLA audit (per-feed staleness) ---------------------------
    // The data-freshness dashboard row: per feed (event_type stands in),
    // the newest event's lag behind the globally newest event, flagged
    // against a 1-hour SLA. One partial max/count per feed, a 1-row
    // global max broadcast back — at any scale this is two tiny
    // aggregates over one scan. Lags are exact epoch-ms int64 deltas.
    QuerySpec(
      "q170_freshness_sla",
      Some("""WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(epoch_ms(MAX(ts)) AS BIGINT) AS last_ms
          FROM events GROUP BY 1),
        t AS (SELECT CAST(MAX(last_ms) AS BIGINT) AS global_ms FROM g)
        SELECT event_type, n, last_ms, global_ms - last_ms AS lag_ms,
          CAST(CASE WHEN global_ms - last_ms <= 3600000 THEN 1 ELSE 0 END
            AS INT) AS within_sla
        FROM g, t"""),
      (s, d) => {
        val g = t(s, d, "events")
          .select(col("event_type"),
            expr("unix_millis(cast(ts as timestamp))").as("ms"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), max(col("ms")).as("last_ms"))
          .cache() // tiny (|feeds| rows); feeds the global max too
        val tot = g.agg(max(col("last_ms")).as("global_ms"))
        g.crossJoin(broadcast(tot)) // 1-row scalar global max
          .select(col("event_type"), col("n"), col("last_ms"),
            (col("global_ms") - col("last_ms")).as("lag_ms"),
            when(col("global_ms") - col("last_ms") <= 3600000L, 1)
              .otherwise(0).cast("int").as("within_sla"))
      }),

    // ---- k-anonymity / l-diversity audit -----------------------------------
    // Privacy-readiness profiling before a data release: group rows by
    // their quasi-identifier tuple (market segment, nation, account-
    // balance band) and audit each equivalence class against k-anonymity
    // (class size >= 5 — Sweeney's re-identification bound) and
    // l-diversity (>= 2 distinct values of the sensitive attribute, the
    // customer's dominant order priority — Machanavajjhala's homogeneity-
    // attack guard). The balance band is floor(acctbal/1000): balances
    // are 2-decimal doubles, so the only quotients landing exactly on an
    // integer come from exactly-representable multiples of 1000 — the
    // floor is engine-stable. Output is the per-class audit table, the
    // shape a suppression/generalization pass consumes.
    // 100 TB plan: one partial-agg shuffle to the QI grain plus one
    // co-partitioned custkey join for the sensitive attribute; class
    // count grows with the QI-combination space, not the row count.
    QuerySpec(
      "q220_k_anonymity",
      Some("""WITH sens AS (SELECT o_custkey,
            min(o_orderpriority) AS sensitive
          FROM orders GROUP BY 1),
        qi AS (SELECT c.c_mktsegment AS segment, c.c_nationkey AS nation,
            CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS bal_band,
            COALESCE(sens.sensitive, 'NONE') AS sensitive
          FROM customer c LEFT JOIN sens ON sens.o_custkey = c.c_custkey)
        SELECT segment, nation, bal_band,
          CAST(COUNT(*) AS BIGINT) AS class_size,
          CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS n_sensitive,
          (COUNT(*) >= 5) AS k_ok,
          (COUNT(DISTINCT sensitive) >= 2) AS l_ok
        FROM qi GROUP BY 1, 2, 3"""),
      (s, d) => {
        val sens = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(min(col("o_orderpriority")).as("sensitive"))
        t(s, d, "customer")
          .join(sens, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_mktsegment").as("segment"),
            col("c_nationkey").as("nation"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"),
            coalesce(col("sensitive"), lit("NONE")).as("sensitive"))
          .groupBy(col("segment"), col("nation"), col("bal_band"))
          .agg(count(lit(1)).as("class_size"),
            countDistinct(col("sensitive")).as("n_sensitive"),
            (count(lit(1)) >= 5).as("k_ok"),
            (countDistinct(col("sensitive")) >= 2).as("l_ok"))
      }),

    // ---- Bloom filter build + probe (mergeable bitmap state) ---------------
    // The membership sketch behind the engine's own runtime join pruning
    // (GraftSession pins spark.sql.optimizer.runtime.bloomFilter), built
    // HERE in the expression language so the state itself oracle-checks:
    // k=3 portable-hash bit positions per member key over m=2^16 bits,
    // stored as 64-bit words combined with bit_or — per-partition word
    // maps union-merge associatively, the property that lets 100 TB of
    // partitions build one filter with a bounded shuffle (<= 1024 word
    // rows). The probe set is half members / half known non-members, so
    // the output pins BOTH guarantees: zero false negatives (structural)
    // and the measured false-positive rate at this load factor.
    QuerySpec(
      "q326_bloom_filter", {
        def pos(i: Int, key: String) =
          s"(${Portable.h64Duck(s"'bf$i:' || CAST($key AS VARCHAR)")}) " +
            s"% $BloomBits"
        Some(s"""WITH mem AS (SELECT c_custkey AS key FROM customer),
          mx AS (SELECT CAST(MAX(key) AS BIGINT) AS mxk FROM mem),
          bits AS (SELECT p // 32 AS word,
              bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bm
            FROM (SELECT unnest([${(0 until BloomHashes)
              .map(i => pos(i, "key")).mkString(", ")}]) AS p FROM mem) z
            GROUP BY 1),
          pr AS (SELECT key, TRUE AS is_member FROM mem WHERE key <= 500
            UNION ALL
            SELECT mxk + k AS key, FALSE AS is_member
            FROM mx, (SELECT unnest(range(1, 501)) AS k) z),
          pp AS (SELECT key, is_member,
              unnest([${(0 until BloomHashes)
                .map(i => pos(i, "key")).mkString(", ")}]) AS p
            FROM pr),
          hit AS (SELECT pp.key, pp.is_member,
              CAST(COUNT(CASE WHEN (bm >> CAST(p % 32 AS INT)) & 1 = 1
                THEN 1 END) AS BIGINT) AS n_set
            FROM pp LEFT JOIN bits ON bits.word = p // 32
            GROUP BY 1, 2),
          v AS (SELECT key, is_member,
              (n_set = $BloomHashes) AS reported FROM hit)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
            CAST(COUNT(CASE WHEN is_member THEN 1 END) AS BIGINT)
              AS n_members,
            CAST(COUNT(CASE WHEN is_member AND NOT reported THEN 1 END)
              AS BIGINT) AS n_false_neg,
            CAST(COUNT(CASE WHEN NOT is_member AND reported THEN 1 END)
              AS BIGINT) AS n_false_pos,
            floor(CAST(COUNT(CASE WHEN NOT is_member AND reported
                THEN 1 END) AS DOUBLE)
              / CAST(COUNT(CASE WHEN NOT is_member THEN 1 END) AS DOUBLE)
              * 1000000.0) / 1000000.0 AS fpr
          FROM v""")
      },
      (s, d) => {
        def pos(i: Int, key: String) =
          s"(${Portable.h64Spark(s"concat('bf$i:', cast($key as string))")}" +
            s" % $BloomBits)"
        val posArr = (0 until BloomHashes).map(i => pos(i, "key"))
          .mkString("array(", ", ", ")")
        val mem = t(s, d, "customer").select(col("c_custkey").as("key"))
        val bits = mem
          .select(explode(expr(posArr)).as("p"))
          .groupBy(expr("p div 32").as("word"))
          .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("bm"))
        val mx = mem.agg(max(col("key")).as("mxk"))
        val nonMem = mx
          .select(explode(expr("sequence(1, 500)")).as("k"), col("mxk"))
          .select((col("mxk") + col("k")).as("key"),
            lit(false).as("is_member"))
        val pr = mem.filter(col("key") <= 500)
          .select(col("key"), lit(true).as("is_member"))
          .unionByName(nonMem)
        val hit = pr
          .select(col("key"), col("is_member"),
            explode(expr(posArr)).as("p"))
          // LEFT join: a probe position landing in a never-set word
          // means bit unset — an inner join would DROP such probes and
          // deflate the FPR denominator
          .join(broadcast(bits), col("word") === expr("p div 32"), "left")
          .groupBy(col("key"), col("is_member"))
          .agg(count(when(
            expr("(bm >> cast(p % 32 as int)) & 1 = 1"), 1)).as("n_set"))
        val v = hit.select(col("is_member"),
          (col("n_set") === BloomHashes).as("reported"))
        v.agg(count(lit(1)).as("n_probes"),
          count(when(col("is_member"), 1)).as("n_members"),
          count(when(col("is_member") && !col("reported"), 1))
            .as("n_false_neg"),
          count(when(!col("is_member") && col("reported"), 1))
            .as("n_false_pos"),
          (floor(count(when(!col("is_member") && col("reported"), 1))
            .cast("double")
            / count(when(!col("is_member"), 1)).cast("double")
            * lit(1000000.0)) / lit(1000000.0)).as("fpr"))
      }),

    // ---- Bloom semi-join reduction planner (runtime-filter sizing) ---------
    // The decision behind Spark's own runtime bloom-filter join: how
    // many probe-side ROWS does a Bloom built on the filtered build
    // side actually prune, and at what false-positive cost, as the
    // filter SIZE sweeps? Build = urgent orders' keys; probe = lineitem
    // keyed by l_orderkey with row-count weights (membership is per
    // KEY, cost is per ROW — the weight join keeps both honest). For
    // each m in {2^14, 2^16, 2^18} bits x 3 hashes (q326's exact bit
    // machinery, salt-per-hash portable h64): rows passing, true
    // matches, false-positive rows, and pruned ppm — the three-point
    // curve a planner reads to size the filter against the shuffle it
    // avoids. 100 TB shape: the bit table is a bounded aggregate
    // (<= sum m/32 words) and broadcasts; the probe side is ONE
    // key-grain partial agg of lineitem, then 9 row-local position
    // probes per key; the exact-membership check rides a key-keyed
    // join; the final rollup is 3 groups.
    QuerySpec(
      "q360_bloom_semijoin_planner", {
        def h(i: Int) =
          Portable.h64Duck(s"'sj$i:' || CAST(key AS VARCHAR)")
        val hs = (0 until BloomHashes).map(h).mkString(", ")
        Some(s"""WITH bld AS (SELECT o_orderkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'),
          ms AS (SELECT CAST(unnest([16384, 65536, 262144]) AS BIGINT) AS m),
          bbits AS (SELECT m, p % m // 32 AS word,
              bit_or(CAST(1 AS BIGINT) << CAST(p % m % 32 AS INT)) AS bm
            FROM (SELECT unnest([$hs]) AS p FROM bld) z, ms
            GROUP BY 1, 2),
          kc AS (SELECT l_orderkey AS key,
              CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem GROUP BY 1),
          mem AS (SELECT kc.key, kc.w,
              (bld.key IS NOT NULL) AS is_member
            FROM kc LEFT JOIN bld ON bld.key = kc.key),
          pp AS (SELECT m, key, w, is_member, p % m AS pm
            FROM (SELECT key, w, is_member, unnest([$hs]) AS p
              FROM mem) z, ms),
          hit AS (SELECT pp.m, pp.key, pp.w, pp.is_member,
              CAST(COUNT(CASE WHEN (bm >> CAST(pm % 32 AS INT)) & 1 = 1
                THEN 1 END) AS BIGINT) AS n_set
            FROM pp LEFT JOIN bbits ON bbits.m = pp.m
              AND bbits.word = pm // 32
            GROUP BY 1, 2, 3, 4),
          v AS (SELECT m, w, is_member,
              (n_set = $BloomHashes) AS pass FROM hit)
          SELECT m AS bloom_bits,
            CAST(SUM(w) AS BIGINT) AS n_probe_rows,
            CAST(COALESCE(SUM(CASE WHEN pass THEN w END), 0) AS BIGINT)
              AS n_pass_rows,
            CAST(COALESCE(SUM(CASE WHEN is_member THEN w END), 0)
              AS BIGINT) AS n_true_rows,
            CAST(COALESCE(SUM(CASE WHEN pass AND NOT is_member THEN w END),
              0) AS BIGINT) AS n_fp_rows,
            CAST((SUM(w) - COALESCE(SUM(CASE WHEN pass THEN w END), 0))
              * 1000000 // SUM(w) AS BIGINT) AS pruned_ppm
          FROM v GROUP BY 1""")
      },
      (s, d) => {
        def h(i: Int) =
          Portable.h64Spark(s"concat('sj$i:', cast(key as string))")
        val hArr = (0 until BloomHashes).map(h)
          .mkString("array(", ", ", ")")
        val msCol = explode(lit(Array(16384L, 65536L, 262144L))).as("m")
        val bld = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("key"))
        val bbits = bld
          .select(explode(expr(hArr)).as("p"))
          .select(col("p"), msCol)
          .groupBy(col("m"), expr("p % m div 32").as("word"))
          .agg(expr("bit_or(shiftleft(1L, cast(p % m % 32 as int)))")
            .as("bm"))
        val kc = t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("key"))
          .agg(count(lit(1)).as("w"))
        val mem = kc
          .join(bld.select(col("key"), lit(true).as("im")), Seq("key"),
            "left")
          .select(col("key"), col("w"),
            coalesce(col("im"), lit(false)).as("is_member"))
        val pp = mem
          .select(col("key"), col("w"), col("is_member"),
            explode(expr(hArr)).as("p"))
          .select(col("key"), col("w"), col("is_member"), col("p"), msCol)
          .select(col("m"), col("key"), col("w"), col("is_member"),
            expr("p % m").as("pm"))
        val hit = pp
          .join(broadcast(bbits),
            pp("m") === bbits("m") && col("word") === expr("pm div 32"),
            "left")
          .groupBy(pp("m").as("m"), col("key"), col("w"), col("is_member"))
          .agg(count(when(
            expr("(bm >> cast(pm % 32 as int)) & 1 = 1"), 1)).as("n_set"))
        hit
          .select(col("m"), col("w"), col("is_member"),
            (col("n_set") === BloomHashes).as("pass"))
          .groupBy(col("m").as("bloom_bits"))
          .agg(sum(col("w")).as("n_probe_rows"),
            coalesce(sum(when(col("pass"), col("w"))), lit(0L))
              .as("n_pass_rows"),
            coalesce(sum(when(col("is_member"), col("w"))), lit(0L))
              .as("n_true_rows"),
            coalesce(sum(when(col("pass") && !col("is_member"), col("w"))),
              lit(0L)).as("n_fp_rows"),
            expr("(sum(w) - coalesce(sum(CASE WHEN pass THEN w END), 0))" +
              " * 1000000 div sum(w)").as("pruned_ppm"))
      })
  )
}
