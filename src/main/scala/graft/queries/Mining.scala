package graft.queries

import graft.Tables
import graft.functions.{Exact, Portable}
import graft.functions.Portable.{toksSpark, toksDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mining operators: iterative graph decomposition (k-core), link
  * prediction, tokenizer-training statistics (BPE pair mining, vocabulary
  * growth), one-pass distinct sketches (KMV), weighted priority sampling,
  * Naive-Bayes model fitting, and hash-sign random projection.
  *
  * Determinism: hashes are the 60-bit md5 prefix ([[Portable]]), float
  * reductions ride the decimal grid ([[Exact]]) or integer quantization,
  * and every sampled/ranked pick carries a total-order tie-break — so all
  * nine queries hash-match DuckDB bit-for-bit.
  */
object Mining {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Co-purchase support>=2 edge set — the q115/q135/q225 graph build:
    * distinct (order, part) pairs, co-partitioned self-join on the order
    * key (fan-out bounded by order width), support filter sparsifies.
    * DuckDB CTE fragment; [[supportEdges]] is the Spark twin.
    */
  private val EdgeSql =
    """io AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem),
      pr AS (SELECT a.p AS pa, b.p AS pb
        FROM io a JOIN io b ON a.o = b.o AND a.p < b.p),
      e0 AS MATERIALIZED (SELECT pa, pb FROM (SELECT pa, pb, COUNT(*) AS w
          FROM pr GROUP BY 1, 2) z
        WHERE w >= 2)"""

  private def supportEdges(s: SparkSession, d: String): DataFrame =
    // pair build via the shared basket fan-out (Baskets.pairCounts):
    // 2 exchanges + no join vs the old 3-exchange self-join; identical
    // (pa, pb, w) multiset, so the EdgeSql oracle twin is untouched
    Baskets.pairCounts(t(s, d, "lineitem"), "l_orderkey", "l_partkey")
      .filter(col("w") >= 2)
      .select(col("pa"), col("pb"))

  /** Peel rounds pinned in BOTH engines (the oracle unrolls exactly this
    * many CTE stages; the Spark loop early-exits only when a round is a
    * no-op, which leaves the result identical to running all of them).
    */
  private val PeelRounds = 12

  /** Degree cap for link-prediction middle nodes: hub neighborhoods are
    * both uninformative (1/deg ~ 0) and the quadratic wedge blowup, so
    * capping is the standard resource-allocation practice AND the scale
    * bound (wedge fan-out <= cap^2 per middle node).
    */
  private val DegCap = 50

  /** q325 Apriori frequent-item floor: items below this basket support
    * are pruned before the triple fan-out.
    */
  private val TripleItemSupport = 5

  val all: Seq[QuerySpec] = Seq(

    // ---- k-core decomposition (bounded peel) -------------------------------
    // The maximal subgraph where every product co-purchases with >= 3
    // core neighbors — the standard "dense backbone" extraction before
    // trusting community/centrality results. Peeling is monotone (the
    // removed set only grows), so a fixed 12-round unroll equals the
    // fixpoint whenever the peel stabilizes earlier — the Spark side
    // loops with an edge-count early-exit (a stable round implies every
    // later round is the identity), the oracle unrolls all 12 stages
    // mechanically. 100 TB plan: each round is one degree partial-agg +
    // two semi-joins on the node key, localCheckpoint truncating lineage
    // (the q48 discipline); rounds are O(log peel-depth) in practice and
    // hard-capped.
    QuerySpec(
      "q233_kcore", {
        // Every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs per
        // reference, and e_{r-1} appears three times per round — an
        // unrolled 12-round peel would otherwise expand 3^12 scans.
        val rounds = (1 to PeelRounds).map { r =>
          s""",
          d$r AS MATERIALIZED (SELECT v, COUNT(*) AS deg
            FROM (SELECT pa AS v
              FROM e${r - 1} UNION ALL SELECT pb AS v FROM e${r - 1}) u
            GROUP BY 1),
          k$r AS MATERIALIZED (SELECT v FROM d$r WHERE deg >= 3),
          e$r AS MATERIALIZED (SELECT e.pa, e.pb FROM e${r - 1} e
            JOIN k$r a ON e.pa = a.v JOIN k$r b ON e.pb = b.v)"""
        }.mkString
        Some(s"""WITH $EdgeSql$rounds,
          core AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (SELECT pa AS v FROM e$PeelRounds
              UNION ALL SELECT pb AS v FROM e$PeelRounds) u GROUP BY 1)
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM core) AS n_core_nodes,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM e$PeelRounds)
              AS n_core_edges,
            (SELECT MIN(deg) FROM core) AS min_core_deg,
            (SELECT MAX(deg) FROM core) AS max_core_deg""")
      },
      (s, d) => {
        var edges = supportEdges(s, d).localCheckpoint(true)
        var nEdges = edges.count()
        var round = 0
        var stable = false
        while (round < PeelRounds && !stable) {
          val deg = edges.select(col("pa").as("v"))
            .unionAll(edges.select(col("pb").as("v")))
            .groupBy(col("v")).agg(count(lit(1)).as("deg"))
          val keep = deg.filter(col("deg") >= 3).select(col("v"))
          edges = edges
            .join(keep.select(col("v").as("pa")), Seq("pa"), "left_semi")
            .join(keep.select(col("v").as("pb")), Seq("pb"), "left_semi")
            .select(col("pa"), col("pb"))
            .localCheckpoint(true)
          val n = edges.count()
          stable = n == nEdges
          nEdges = n
          round += 1
        }
        val core = edges.select(col("pa").as("v"))
          .unionAll(edges.select(col("pb").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        val nodes = core.agg(count(lit(1)).as("n_core_nodes"),
          min(col("deg")).as("min_core_deg"),
          max(col("deg")).as("max_core_deg"))
        val ne = edges.agg(count(lit(1)).as("n_core_edges"))
        nodes.crossJoin(broadcast(ne)) // 1-row scalar attach
          .select(col("n_core_nodes"), col("n_core_edges"),
            col("min_core_deg"), col("max_core_deg"))
      }),

    // ---- link prediction (resource-allocation index) -----------------------
    // Which products SHOULD co-purchase but don't yet: for each
    // non-adjacent pair sharing middle nodes, RA = sum over shared
    // neighbors of 1/deg — computed on an exact integer grid
    // (1e9 div deg, floor division in both engines) so the ranking
    // never touches a float. Middle nodes above the degree cap are
    // dropped (standard practice: hubs carry ~0 signal and all the
    // quadratic cost). 100 TB plan: wedge join keys on the middle node
    // with fan-out <= cap^2; candidate agg keys on the (u,w) pair;
    // existing-edge anti-join on the same key; top-20 is TakeOrdered.
    QuerySpec(
      "q234_link_pred",
      Some(s"""WITH $EdgeSql,
        dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
          FROM (SELECT pa AS v FROM e0 UNION ALL SELECT pb AS v FROM e0) z
          GROUP BY 1),
        nb AS (SELECT pa AS v, pb AS u FROM e0
          UNION ALL SELECT pb AS v, pa AS u FROM e0),
        wd AS (SELECT a.u AS u, b.u AS w, d.deg AS dv
          FROM nb a JOIN nb b ON a.v = b.v AND a.u < b.u
          JOIN dg d ON d.v = a.v WHERE d.deg <= $DegCap),
        cand AS (SELECT u, w, CAST(SUM(1000000000 // dv) AS BIGINT) AS score,
            CAST(COUNT(*) AS BIGINT) AS n_common
          FROM wd GROUP BY 1, 2),
        fresh AS (SELECT c.u, c.w, c.score, c.n_common FROM cand c
          LEFT JOIN e0 ON c.u = e0.pa AND c.w = e0.pb WHERE e0.pa IS NULL)
        SELECT u, w, score, n_common FROM fresh
        ORDER BY score DESC, u, w LIMIT 20"""),
      (s, d) => {
        val e = supportEdges(s, d).cache() // feeds deg, wedges, anti-join
        val dg = e.select(col("pa").as("v"))
          .unionAll(e.select(col("pb").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        val nb = e.select(col("pa").as("v"), col("pb").as("u"))
          .unionAll(e.select(col("pb").as("v"), col("pa").as("u")))
        val wd = nb.join(nb.select(col("v"), col("u").as("w")), Seq("v"))
          .filter(col("u") < col("w"))
          .join(dg, Seq("v"))
          .filter(col("deg") <= DegCap)
        val cand = wd.groupBy(col("u"), col("w"))
          .agg(sum(expr("1000000000 div deg")).as("score"),
            count(lit(1)).as("n_common"))
        cand.join(e, cand("u") === e("pa") && cand("w") === e("pb"),
            "left_anti")
          .orderBy(col("score").desc, col("u"), col("w")).limit(20)
          .select(col("u"), col("w"), col("score"), col("n_common"))
      }),

    // ---- BPE pair mining (tokenizer training step) -------------------------
    // The first thing a BPE tokenizer trainer computes: corpus-wide
    // frequencies of adjacent symbol pairs inside words — the top pair
    // becomes the first merge rule. Pure integer counting over a
    // position explode; the top-20 is TakeOrdered with the pair string
    // as tie-break. 100 TB plan: the explode is row-local (fan-out =
    // word length); ONE (pair) partial-agg shuffle whose key space is
    // bounded by the alphabet squared; top-k never sorts globally.
    QuerySpec(
      "q235_bpe_pairs",
      Some(s"""WITH tok AS (SELECT unnest(${toksDuck("text")}) AS w
            FROM documents),
        t2 AS (SELECT w FROM tok WHERE length(w) >= 2),
        pr AS (SELECT substr(w, j, 2) AS pair FROM
          (SELECT w, unnest(range(1, length(w))) AS j FROM t2) z),
        c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pr GROUP BY 1)
        SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20"""),
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(explode(expr(toksSpark("text"))).as("w"))
          .filter(length(col("w")) >= 2)
        val pr = tok
          .select(col("w"), explode(expr("sequence(1, length(w) - 1)"))
            .as("j"))
          .select(expr("substring(w, j, 2)").as("pair"))
        pr.groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(20)
      }),

    // ---- vocabulary growth curve (Heaps-law audit) -------------------------
    // How fast does the vocabulary grow as the corpus streams in? Each
    // term contributes to the decile of its FIRST document — one min-agg
    // on the term grain — and the cumulative over the 10 decile rows is
    // the growth curve. Sub-linear growth is the expected Heaps shape;
    // a linear curve flags an ID-like token leak. Bucketing is exact
    // integer floor division off broadcast min/max doc ids. 100 TB
    // plan: tokenize is row-local; ONE (term) min-agg shuffle; the
    // cumulative window reads 10 group-grain rows.
    QuerySpec(
      "q236_vocab_growth",
      Some(s"""WITH bounds AS (SELECT CAST(MIN(doc_id) AS BIGINT) AS mn,
            CAST(MAX(doc_id) AS BIGINT) AS mx FROM documents),
        tok AS (SELECT doc_id, unnest(${toksDuck("text")}) AS term
          FROM documents),
        tk AS (SELECT term, CAST(MIN(doc_id) AS BIGINT) AS fd FROM tok
          WHERE term <> '' GROUP BY 1),
        tb AS (SELECT (10 * (fd - mn)) // (mx - mn + 1) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS new_terms FROM tk, bounds GROUP BY 1),
        db AS (SELECT (10 * (doc_id - mn)) // (mx - mn + 1) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents, bounds GROUP BY 1),
        j AS (SELECT db.bucket AS bucket, db.n_docs AS n_docs,
            COALESCE(tb.new_terms, 0) AS new_terms
          FROM db LEFT JOIN tb ON db.bucket = tb.bucket)
        SELECT bucket, n_docs, CAST(new_terms AS BIGINT) AS new_terms,
          CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS vocab
        FROM j"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val bounds = docs.agg(min(col("doc_id")).as("mn"),
          max(col("doc_id")).as("mx"))
        val tok = docs
          .select(col("doc_id"), explode(expr(toksSpark("text"))).as("term"))
          .filter(col("term") =!= "")
        val tk = tok.groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
        val tb = tk.crossJoin(broadcast(bounds)) // 1-row min/max
          .select(expr("(10 * (fd - mn)) div (mx - mn + 1)").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
        val db = docs.crossJoin(broadcast(bounds))
          .select(expr("(10 * (doc_id - mn)) div (mx - mn + 1)").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
        val j = db.join(broadcast(tb), Seq("bucket"), "left")
          .select(col("bucket"), col("n_docs"),
            coalesce(col("new_terms"), lit(0L)).as("new_terms"))
        j.withColumn("vocab", sum(col("new_terms")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      }),

    // ---- KMV distinct sketch (k minimum values) ----------------------------
    // One-pass approximate COUNT DISTINCT with a provable (k-1)*M/h_k
    // estimator over the 60-bit portable hash space — the sketch whose
    // register state is small enough to merge across 100 TB of
    // partitions (the k smallest hashes union-merge associatively).
    // Distributed top-k (TakeOrdered) replaces any global sort; the
    // exact distinct rides along as the fixture-scale error check.
    // floor() publishes the estimate (round-half ties differ by engine;
    // floor does not).
    QuerySpec(
      "q237_kmv_distinct", {
        val h = Portable.h64Duck("'o' || CAST(l_orderkey AS VARCHAR)")
        Some(s"""WITH h AS (SELECT DISTINCT $h AS hv FROM lineitem),
          tk AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
          kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
              CAST(MAX(hv) AS BIGINT) AS hk FROM tk),
          ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct FROM h)
          SELECT k, hk,
            CAST(FLOOR(CAST(k - 1 AS DOUBLE) * 1152921504606846976.0
              / CAST(hk AS DOUBLE)) AS BIGINT) AS est_distinct,
            true_distinct
          FROM kk, ex""")
      },
      (s, d) => {
        val h = t(s, d, "lineitem")
          .select(expr(Portable.h64Spark(
            "concat('o', cast(l_orderkey as string))")).as("hv"))
          .distinct().cache() // feeds the sketch AND the exact check
        val tk = h.orderBy(col("hv")).limit(256)
        val kk = tk.agg(count(lit(1)).as("k"), max(col("hv")).as("hk"))
        val ex = h.agg(count(lit(1)).as("true_distinct"))
        kk.crossJoin(broadcast(ex)) // 1-row scalar attach
          .select(col("k"), col("hk"),
            floor((col("k") - 1).cast("double")
              * lit(1152921504606846976.0) / col("hk").cast("double"))
              .cast("long").as("est_distinct"),
            col("true_distinct"))
      }),

    // ---- weighted priority sampling -----------------------------------------
    // Duffield-Lund-Thorup priority sampling: priority = weight/u with
    // u ~ U(0,1] from the portable hash, keep the top-m, and the
    // (m+1)-th priority tau gives the unbiased weight estimator
    // max(w, tau). Deterministic: u is a pure function of the key, the
    // top-(m+1) pick is TakeOrdered with the key as tie-break, and tau
    // attaches as a broadcast scalar. 100 TB plan: priorities are
    // row-local; the ONLY cross-partition step is distributed top-51.
    QuerySpec(
      "q238_priority_sample", {
        val h = Portable.h64Duck("'ps' || CAST(o_orderkey AS VARCHAR)")
        Some(s"""WITH w AS (SELECT o_orderkey, o_totalprice AS wt,
              CAST(o_totalprice AS DOUBLE) * 1152921504606846976.0
                / CAST($h + 1 AS DOUBLE) AS pri
            FROM orders),
          top AS (SELECT o_orderkey, wt, pri FROM w
            ORDER BY pri DESC, o_orderkey LIMIT 51),
          r AS (SELECT o_orderkey, wt, pri,
              ROW_NUMBER() OVER (ORDER BY pri DESC, o_orderkey) AS rn
            FROM top),
          tau AS (SELECT pri AS tau FROM r WHERE rn = 51)
          SELECT o_orderkey, wt, round(pri, 4) AS pri,
            round(GREATEST(wt, tau), 4) AS adj_wt
          FROM r, tau WHERE rn <= 50""")
      },
      (s, d) => {
        val w = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("wt"),
            (col("o_totalprice").cast("double")
              * lit(1152921504606846976.0)
              / (expr(Portable.h64Spark(
                "concat('ps', cast(o_orderkey as string))")) + 1)
                .cast("double")).as("pri"))
        val top = w.orderBy(col("pri").desc, col("o_orderkey")).limit(51)
        val r = top.withColumn("rn", row_number().over(
          Window.orderBy(col("pri").desc, col("o_orderkey"))))
        val tau = r.filter(col("rn") === 51).select(col("pri").as("tau"))
        r.filter(col("rn") <= 50).crossJoin(broadcast(tau))
          .select(col("o_orderkey"), col("wt"), round(col("pri"), 4).as("pri"),
            round(greatest(col("wt"), col("tau")), 4).as("adj_wt"))
      }),

    // ---- Naive Bayes model fit (Laplace-smoothed conditionals) -------------
    // The training step of the classic text classifier: class-conditional
    // token probabilities P(term|lang) with add-one smoothing, published
    // for the 20 highest-frequency terms across every language (zeros
    // included via the class x term grid). Probabilities are one exact
    // rational divide (c+1)/(tot+V) over int64 counts. 100 TB plan: ONE
    // (lang, term) partial-agg shuffle; class totals and the top-20 term
    // pick are group-grain; the final grid join broadcasts the bounded
    // grid against the count table.
    QuerySpec(
      "q239_naive_bayes",
      Some(s"""WITH tok AS (SELECT lang,
            unnest(${toksDuck("text")}) AS term FROM documents),
        t2 AS (SELECT lang, term FROM tok WHERE term <> ''),
        ct AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
          FROM t2 GROUP BY 1, 2),
        lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot
          FROM ct GROUP BY 1),
        v AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS vsz FROM ct),
        top AS (SELECT term FROM (SELECT term, SUM(c) AS tc FROM ct
            GROUP BY 1) z
          ORDER BY tc DESC, term LIMIT 20),
        grid AS (SELECT l.lang, t.term, l.tot FROM lt l, top t),
        j AS (SELECT g.lang, g.term, g.tot, COALESCE(ct.c, 0) AS c
          FROM grid g LEFT JOIN ct ON ct.lang = g.lang AND ct.term = g.term)
        SELECT lang, term, CAST(c AS BIGINT) AS cnt,
          round(CAST(c + 1 AS DOUBLE) / CAST(tot + vsz AS DOUBLE), 6)
            AS p_term_lang
        FROM j, v"""),
      (s, d) => {
        val ct = t(s, d, "documents")
          .select(col("lang"), explode(expr(toksSpark("text"))).as("term"))
          .filter(col("term") =!= "")
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("c"))
          .cache() // feeds class totals, vocab size, top terms, the grid
        val lt = ct.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
        val v = ct.agg(countDistinct(col("term")).as("vsz"))
        val top = ct.groupBy(col("term")).agg(sum(col("c")).as("tc"))
          .orderBy(col("tc").desc, col("term")).limit(20)
          .select(col("term"))
        val grid = lt.crossJoin(broadcast(top)) // |langs| x 20, bounded
        // pre-reduce the vocab-grain count table to the 20 picked terms
        // (broadcast semi-join) so the zero-filling outer join never
        // shuffles the full (lang, term) grain
        val ctTop = ct.join(broadcast(top), Seq("term"), "left_semi")
        val j = grid.join(broadcast(ctTop), Seq("lang", "term"), "left")
          .select(col("lang"), col("term"), col("tot"),
            coalesce(col("c"), lit(0L)).as("c"))
        j.crossJoin(broadcast(v)) // 1-row vocab size
          .select(col("lang"), col("term"), col("c").as("cnt"),
            round((col("c") + 1).cast("double")
              / (col("tot") + col("vsz")).cast("double"), 6)
              .as("p_term_lang"))
      }),

    // ---- hash-sign random projection (Johnson-Lindenstrauss) ---------------
    // Dimensionality reduction without a stored projection matrix: the
    // sign of md5(i_j) defines a +-1 Rademacher matrix both engines
    // recompute identically, and each of the 8 output coordinates is an
    // exact int64 sum over the quantized vector — fully row-local (the
    // scale shape: zero shuffles, zero joins; the matrix is a pure
    // function, so nothing is broadcast either). The 1000x quantization
    // grid is the corpus-wide vector-math convention ([[Portable]]).
    QuerySpec(
      "q240_rand_proj", {
        val qv = Portable.qvecDuck("embedding", 64)
        val h = Portable.h64Duck(
          "CAST(i - 1 AS VARCHAR) || '_' || CAST(j AS VARCHAR)")
        val cell = s"CASE WHEN $h % 2 = 0 THEN qv[i] ELSE -qv[i] END"
        Some(s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
          pj AS (SELECT vec_id,
              [CAST(list_sum([$cell for i in range(1, 65)]) AS BIGINT)
                for j in range(0, 8)] AS proj
            FROM e)
          SELECT vec_id, proj[1] AS p0, proj[2] AS p1, proj[3] AS p2,
            proj[4] AS p3, proj[5] AS p4, proj[6] AS p5, proj[7] AS p6,
            proj[8] AS p7
          FROM pj""")
      },
      (s, d) => {
        val sign = Portable.h64Spark(
          "concat(cast(i as string), '_', cast(j as string))") + " % 2"
        val proj = s"""transform(sequence(0, 7), j ->
            aggregate(zip_with(qv, sequence(0, size(qv) - 1),
              (x, i) -> CASE WHEN $sign = 0 THEN x ELSE -x END),
            cast(0 as bigint), (a, v) -> a + v))"""
        val e = t(s, d, "embeddings")
          .select(col("vec_id"),
            expr(Portable.qvecSpark("embedding")).as("qv"))
          .select(col("vec_id"), expr(proj).as("proj"))
        e.select(col("vec_id") +:
          (0 to 7).map(i => col("proj").getItem(i).as(s"p$i")): _*)
      }),

    // ---- Herfindahl-Hirschman concentration index --------------------------
    // Market-concentration audit: within each region, the sum of squared
    // national revenue shares — the metric competition regulators (and
    // data-curation teams watching source dominance) use. Revenue per
    // (region, nation) is ONE decimal-grid fact aggregate; shares and
    // their squares are pinned IEEE ops; the <=25-term per-region fold
    // rides the decimal grid so partition order cannot move it. 100 TB
    // plan: one fact shuffle on the bounded (region, nation) grain,
    // then group-grain arithmetic only.
    QuerySpec(
      "q241_hhi",
      Some(s"""WITH rv AS (SELECT n_regionkey AS region,
            c_nationkey AS nation,
            ${Exact.sqlDsum("o_totalprice")} AS rev
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON n_nationkey = c_nationkey
          GROUP BY 1, 2),
        rt AS (SELECT region, ${Exact.sqlDsum("rev")} AS rtot,
            CAST(COUNT(*) AS BIGINT) AS n_nations
          FROM rv GROUP BY 1),
        tm AS (SELECT rv.region, rt.n_nations,
            (rv.rev / rt.rtot) * (rv.rev / rt.rtot) * 1000000.0 AS t
          FROM rv JOIN rt ON rv.region = rt.region)
        SELECT region, n_nations,
          round(${Exact.sqlDsum("t")} / 1000000.0, 6) AS hhi
        FROM tm GROUP BY 1, 2"""),
      (s, d) => {
        val rv = t(s, d, "orders")
          .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey").as("region"),
            col("c_nationkey").as("nation"))
          .agg(Exact.dsum(col("o_totalprice")).as("rev"))
          .cache() // bounded (region, nation) grain
        val rt = rv.groupBy(col("region"))
          .agg(Exact.dsum(col("rev")).as("rtot"),
            count(lit(1)).as("n_nations"))
        val tm = rv.join(broadcast(rt), Seq("region"))
          .select(col("region"), col("n_nations"),
            ((col("rev") / col("rtot")) * (col("rev") / col("rtot"))
              * lit(1000000.0)).as("t"))
        tm.groupBy(col("region"), col("n_nations"))
          .agg(round(Exact.dsum(col("t")) / lit(1000000.0), 6).as("hhi"))
      }),

    // ---- embedding whitening statistics (per-dim standardization) ----------
    // The fit step of feature whitening: per-dimension mean and sample
    // std over the quantized grid (exact int64 sufficient stats), plus a
    // 3-sigma outlier count per dimension — the per-dim complement of
    // q130's per-VECTOR norm gate, and the input a PCA/whitening
    // transform consumes. 100 TB plan: the explode is row-local; stats
    // are ONE (dim) partial agg onto 64 rows; the outlier pass re-reads
    // the cached exploded frame with the 64-row stats broadcast back.
    QuerySpec(
      "q247_embed_whitening", {
        val qv = Portable.qvecDuck("embedding", 64)
        Some(s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
          x AS (SELECT vec_id, dim, qv[dim] AS q FROM
            (SELECT vec_id, qv, unnest(range(1, 65)) AS dim FROM e) z),
          st AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(q) AS BIGINT) AS s,
              CAST(SUM(q * q) AS BIGINT) AS ss
            FROM x GROUP BY 1),
          m AS (SELECT dim, n,
              CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
              sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS sd
            FROM st),
          o AS (SELECT x.dim,
              CAST(COUNT(CASE WHEN abs(CAST(x.q AS DOUBLE) - m.mean)
                > 3.0 * m.sd THEN 1 END) AS BIGINT) AS n_outliers
            FROM x JOIN m ON x.dim = m.dim GROUP BY 1)
          SELECT CAST(m.dim AS BIGINT) AS dim, m.n, round(m.mean, 6) AS mean,
            round(m.sd, 6) AS sd, o.n_outliers
          FROM m JOIN o ON m.dim = o.dim""")
      },
      (s, d) => {
        val x = t(s, d, "embeddings")
          .select(col("vec_id"),
            expr(Portable.qvecSpark("embedding")).as("qv"))
          .select(col("vec_id"), posexplode(col("qv")).as(Seq("p", "q")))
          .select(col("vec_id"), (col("p") + 1).cast("long").as("dim"),
            col("q"))
          .cache() // feeds the stats agg AND the outlier pass
        val st = x.groupBy(col("dim")).agg(count(lit(1)).as("n"),
          sum(col("q")).as("s"), sum(col("q") * col("q")).as("ss"))
        val m = st.select(col("dim"), col("n"),
          (col("s").cast("double") / col("n").cast("double")).as("mean"),
          sqrt((col("ss").cast("double")
            - col("s").cast("double") * col("s").cast("double")
              / col("n").cast("double")) / (col("n") - 1).cast("double"))
            .as("sd"))
        val o = x.join(broadcast(m), Seq("dim"))
          .groupBy(col("dim"))
          .agg(count(when(abs(col("q").cast("double") - col("mean"))
            > lit(3.0) * col("sd"), 1)).as("n_outliers"))
        m.join(broadcast(o), Seq("dim"))
          .select(col("dim"), col("n"), round(col("mean"), 6).as("mean"),
            round(col("sd"), 6).as("sd"), col("n_outliers"))
      }),

    // ---- greedy set cover (source selection) -------------------------------
    // Which 5 sources cover the most distinct vocabulary — the greedy
    // (1 - 1/e)-approximate set-cover that data-curation teams run to
    // pick acquisition targets. Each round: count remaining (uncovered)
    // terms per source, pick the max (source id as tie-break), remove
    // the covered terms and the picked source. Greedy is inherently
    // sequential, so both engines pin the SAME 5 unrolled rounds — the
    // oracle as MATERIALIZED CTE stages (the q233 technique), Spark as a
    // loop with localCheckpoint truncation. 100 TB plan: each round is
    // one (source) count agg, a term-keyed anti-join against the covered
    // set, and a 1-row broadcast pick — no driver-side data, no global
    // sort (the pick is TakeOrdered(1)).
    QuerySpec(
      "q248_set_cover", {
        def round(r: Int): String = {
          val prev = if (r == 1) "st" else s"r${r - 1}"
          val cdef = if (r == 1) "SELECT term FROM n1"
          else s"SELECT term FROM c${r - 1} UNION SELECT term FROM n$r"
          s""",
          g$r AS MATERIALIZED (SELECT source, CAST(COUNT(*) AS BIGINT)
              AS gain FROM $prev GROUP BY 1),
          p$r AS MATERIALIZED (SELECT source, gain FROM g$r
            ORDER BY gain DESC, source LIMIT 1),
          n$r AS MATERIALIZED (SELECT DISTINCT term FROM $prev
            JOIN p$r USING (source)),
          c$r AS MATERIALIZED ($cdef),
          r$r AS MATERIALIZED (SELECT s.source, s.term FROM $prev s
            LEFT JOIN n$r ON s.term = n$r.term
            WHERE n$r.term IS NULL
              AND s.source <> (SELECT source FROM p$r))"""
        }
        val rounds = (1 to 5).map(round).mkString
        val rows = (1 to 5).map { r =>
          s"""SELECT $r AS step, source, gain,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM c$r) AS covered FROM p$r"""
        }.mkString(" UNION ALL ")
        // Universe = word BIGRAMS: the fixture's unigram vocabulary is a
        // 31-word closed set every source fully covers (a degenerate
        // 1-round cover); bigrams discriminate sources properly.
        Some(s"""WITH sp AS (SELECT source, ${toksDuck("text")}
              AS ws FROM documents),
          st AS MATERIALIZED (SELECT DISTINCT source,
              ws[j] || ' ' || ws[j + 1] AS term
            FROM (SELECT source, ws, unnest(range(1, len(ws))) AS j
              FROM sp) z)$rounds
          $rows""")
      },
      (s, d) => {
        import s.implicits._
        var rem = t(s, d, "documents")
          .select(col("source"), expr(toksSpark("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("source"), col("ws"),
            explode(expr("sequence(1, size(ws) - 1)")).as("j"))
          .select(col("source"),
            concat(expr("element_at(ws, j)"), lit(" "),
              expr("element_at(ws, j + 1)")).as("term"))
          .distinct()
          .localCheckpoint(true)
        var covered: DataFrame = Seq.empty[String].toDF("term")
        var out: DataFrame = null
        for (r <- 1 to 5) {
          val g = rem.groupBy(col("source")).agg(count(lit(1)).as("gain"))
          val p = g.orderBy(col("gain").desc, col("source")).limit(1)
            .localCheckpoint(true) // 1 row; referenced three times
          val nNew = rem.join(broadcast(p.select(col("source"))),
            Seq("source"), "left_semi").select(col("term"))
          covered = covered.unionByName(nNew).distinct()
            .localCheckpoint(true)
          val cc = covered.agg(count(lit(1)).as("covered"))
          val row = p.withColumn("step", lit(r))
            .crossJoin(broadcast(cc))
            .select(col("step"), col("source"), col("gain"), col("covered"))
          out = if (out == null) row else out.unionByName(row)
          rem = rem
            .join(broadcast(p.select(col("source"))), Seq("source"),
              "left_anti")
            .join(covered, Seq("term"), "left_anti")
            .localCheckpoint(true)
        }
        out
      }),

    // ---- HITS hubs/authorities (bipartite, max-norm) -----------------------
    // Kleinberg's HITS on the order-part bipartite graph: orders are
    // hubs, parts authorities; three pinned alternations from h=1 with
    // MAX-normalization after every half-step (max over exact/decimal-
    // grid scores is order-free, unlike an L2 norm's square-root-of-sum).
    // Per-node score sums ride the decimal grid; each normalization is
    // one broadcast scalar divide. The top-10 authority list is the
    // "structurally important products" ranking PageRank (q115) gives
    // for the unipartite projection. 100 TB plan: each half-step is one
    // edge-keyed join + node-grain partial agg — bounded rounds, the
    // q115 shape on the bipartite edge list.
    QuerySpec(
      "q261_hits", {
        def half(from: String, key: String, out: String, prev: String,
            score: String): String =
          s""",
          $out AS MATERIALIZED (SELECT $key, ${Exact.sqlDsum(score)} AS s
            FROM ed JOIN $prev USING ($from) GROUP BY 1),
          m_$out AS (SELECT MAX(s) AS m FROM $out),
          n_$out AS MATERIALIZED (SELECT $key, s / m AS sn
            FROM $out, m_$out)"""
        Some(s"""WITH ed AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
              l_partkey AS p FROM lineitem),
          a1 AS MATERIALIZED (SELECT p, CAST(COUNT(*) AS DOUBLE) AS s
            FROM ed GROUP BY 1),
          m_a1 AS (SELECT MAX(s) AS m FROM a1),
          n_a1 AS MATERIALIZED (SELECT p, s / m AS sn FROM a1, m_a1)
          ${half("p", "o", "h2", "n_a1", "sn")}
          ${half("o", "p", "a2", "n_h2", "sn")}
          ${half("p", "o", "h3", "n_a2", "sn")}
          ${half("o", "p", "a3", "n_h3", "sn")}
          SELECT p AS part, round(sn, 6) AS authority
          FROM n_a3 ORDER BY sn DESC, p LIMIT 10""")
      },
      (s, d) => {
        val ed = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        // Two in-memory HASH-BUCKETED views of the bipartite edge list,
        // one per join key (guide §2.4 "two operations keyed the same
        // way share one exchange"): the old single cache was re-EXCHANGED
        // on every half-step's join (4 full edge-list shuffles per run,
        // measured as the dominant stages); with the partitioning cached,
        // each half-step shuffles only the node-grain score frame, and
        // a1's groupBy(p) rides edP's partitioning exchange-free.
        val edP = ed.repartition(col("p")).cache()
        val edO = ed.repartition(col("o")).cache()
        def norm(df: DataFrame, key: String): DataFrame = {
          // Materialize the half-step aggregate ONCE before the
          // max-divide: the 1-row max is a broadcast build, and a
          // broadcast future over an unmaterialized frame races the main
          // branch into recomputing the whole join+agg subtree (measured:
          // every half-step's heavy stage ran twice). The eager
          // node-grain checkpoint is also the per-half-step lineage cut
          // the old shape took after the divide (re-analysis of the
          // compounded plan measured 19 s -> ~2 s when it was added).
          val base = df.localCheckpoint(true)
          val m = base.agg(max(col("s")).as("m"))
          base.crossJoin(broadcast(m)) // 1-row max
            .select(col(key), (col("s") / col("m")).as("sn"))
        }
        def half(prev: DataFrame, edge: DataFrame, from: String,
            key: String): DataFrame =
          norm(edge.join(prev, Seq(from))
            .groupBy(col(key)).agg(Exact.dsum(col("sn")).as("s")), key)
        val a1 = norm(edP.groupBy(col("p"))
          .agg(count(lit(1)).cast("double").as("s")), "p")
        val h2 = half(a1, edP, "p", "o")
        val a2 = half(h2, edO, "o", "p")
        val h3 = half(a2, edP, "p", "o")
        val a3 = half(h3, edO, "o", "p")
        a3.orderBy(col("sn").desc, col("p")).limit(10)
          .select(col("p").as("part"), round(col("sn"), 6).as("authority"))
      }),

    // ---- k-hop reachability (seeded frontier BFS) --------------------------
    // Influence-spread measurement: from the 5 highest-degree products,
    // how much of the co-purchase graph is reachable within 3 hops —
    // frontier BFS where each hop is one edge-keyed join + two
    // anti/dedup steps, the bounded-round discipline shared with q48 /
    // q233 / q249. The oracle unrolls the same 3 hops as MATERIALIZED
    // stages; seeds pick by (degree DESC, node) so the start set is a
    // total order. Output: per hop, the frontier size and cumulative
    // reach.
    QuerySpec(
      "q279_khop_reach", {
        val hops = (1 to 3).map { k =>
          s""",
          f$k AS MATERIALIZED (SELECT DISTINCT nb.u AS v FROM nb
            JOIN f${k - 1} ON nb.v = f${k - 1}.v
            WHERE NOT EXISTS (SELECT 1 FROM r${k - 1} r
              WHERE r.v = nb.u)),
          r$k AS MATERIALIZED (SELECT v FROM r${k - 1}
            UNION SELECT v FROM f$k)"""
        }.mkString
        val rows = (0 to 3).map { k =>
          s"""SELECT $k AS hop,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM f$k) AS n_frontier,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM r$k) AS n_reached"""
        }.mkString(" UNION ALL ")
        Some(s"""WITH $EdgeSql,
          dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (SELECT pa AS v FROM e0 UNION ALL SELECT pb AS v FROM e0)
              z GROUP BY 1),
          nb AS MATERIALIZED (SELECT pa AS v, pb AS u FROM e0
            UNION ALL SELECT pb AS v, pa AS u FROM e0),
          f0 AS MATERIALIZED (SELECT v FROM dg
            ORDER BY deg DESC, v LIMIT 5),
          r0 AS MATERIALIZED (SELECT v FROM f0)$hops
          $rows""")
      },
      (s, d) => {
        val e = supportEdges(s, d).cache()
        val nb = e.select(col("pa").as("v"), col("pb").as("u"))
          .unionAll(e.select(col("pb").as("v"), col("pa").as("u")))
          .localCheckpoint(true)
        val dg = nb.groupBy(col("v")).agg(count(lit(1)).as("deg"))
        var frontier = dg.orderBy(col("deg").desc, col("v")).limit(5)
          .select(col("v")).localCheckpoint(true)
        var reached = frontier
        def row(k: Int, f: DataFrame, r: DataFrame): DataFrame =
          f.agg(count(lit(1)).as("n_frontier"))
            .crossJoin(broadcast(r.agg(count(lit(1)).as("n_reached"))))
            .select(lit(k).as("hop"), col("n_frontier"), col("n_reached"))
        var out = row(0, frontier, reached)
        for (k <- 1 to 3) {
          frontier = nb.join(frontier, Seq("v"), "left_semi")
            .select(col("u").as("v")).distinct()
            .join(reached, Seq("v"), "left_anti")
            .localCheckpoint(true)
          reached = reached.unionByName(frontier).distinct()
            .localCheckpoint(true)
          out = out.unionByName(row(k, frontier, reached))
        }
        out
      }),

    // ---- global clustering coefficient -------------------------------------
    // How cliquish the co-purchase graph is: 3*triangles / wedges — the
    // one-number transitivity summary next to q135's raw triangle count
    // and q225's assortativity. Triangles enumerate over the oriented
    // (pa<pb) edge list with two keyed joins (each closing edge looked
    // up by equi-key); wedges are a degree-grain aggregate
    // sum(deg*(deg-1)/2). All exact integers; one pinned divide.
    QuerySpec(
      "q287_clustering_coeff",
      Some(s"""WITH $EdgeSql,
        dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
          FROM (SELECT pa AS v FROM e0 UNION ALL SELECT pb AS v FROM e0) z
          GROUP BY 1),
        tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS t
          FROM e0 x JOIN e0 y ON x.pb = y.pa
          JOIN e0 z ON z.pa = x.pa AND z.pb = y.pb),
        wg AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS w
          FROM dg)
        SELECT tr.t AS n_triangles, wg.w AS n_wedges,
          round(3.0 * CAST(tr.t AS DOUBLE) / CAST(wg.w AS DOUBLE), 6)
            AS clustering_coeff
        FROM tr, wg"""),
      (s, d) => {
        val e = supportEdges(s, d).cache() // three triangle probes + degs
        val dg = e.select(col("pa").as("v"))
          .unionAll(e.select(col("pb").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        val tr = e.select(col("pa").as("a"), col("pb").as("b"))
          .join(e.select(col("pa").as("b"), col("pb").as("c")), Seq("b"))
          .join(e.select(col("pa").as("a"), col("pb").as("c")),
            Seq("a", "c"))
          .agg(count(lit(1)).as("t"))
        val wg = dg.agg(sum(expr("deg * (deg - 1) div 2")).as("w"))
        tr.crossJoin(broadcast(wg)) // 1-row wedge total
          .select(col("t").as("n_triangles"), col("w").as("n_wedges"),
            round(lit(3.0) * col("t").cast("double")
              / col("w").cast("double"), 6).as("clustering_coeff"))
      }),

    // ---- frequent 3-itemsets (Apriori level 3) -----------------------------
    // q112's pair co-occurrence taken one level up: top-20 supplier
    // TRIPLES co-occurring in order baskets. Apriori pruning makes the
    // explode safe at scale: items below the frequent-item support floor
    // drop BEFORE the combination fan-out, and the index ranges derive
    // from each basket's OWN length (sequence(1, size(a)) — no
    // hardcoded cap to silently truncate an unexpectedly large basket),
    // so per-basket fan-out is C(|a|,3), row-local, and support-floor-
    // bounded. One (triple) partial-agg shuffle over sorted distinct
    // in-basket item arrays (sorted → each triple emitted once, i<j<k);
    // top-20 is TakeOrdered with the full triple as tie-break.
    QuerySpec(
      "q325_frequent_triples",
      Some(s"""WITH bi AS (SELECT DISTINCT l_orderkey AS o,
            l_suppkey AS it FROM lineitem),
        fi AS (SELECT it FROM bi GROUP BY it
          HAVING COUNT(*) >= $TripleItemSupport),
        bk AS (SELECT o, list_sort(list(it)) AS a
          FROM (SELECT o, bi.it FROM bi JOIN fi ON fi.it = bi.it) z
          GROUP BY o),
        t1 AS (SELECT a, unnest(range(1, len(a) + 1)) AS i FROM bk),
        t2 AS (SELECT a, i, unnest(range(1, len(a) + 1)) AS j FROM t1
          WHERE i < len(a)),
        t3 AS (SELECT a, i, j, unnest(range(1, len(a) + 1)) AS k FROM t2
          WHERE i < j),
        tr AS (SELECT a[i] AS s1, a[j] AS s2, a[k] AS s3
          FROM t3 WHERE j < k)
        SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS support
        FROM tr GROUP BY 1, 2, 3
        ORDER BY support DESC, s1, s2, s3 LIMIT 20"""),
      (s, d) => {
        val bi = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_suppkey").as("it"))
          .distinct()
        val fi = bi.groupBy(col("it")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= TripleItemSupport).select(col("it"))
        val bk = bi.join(fi, "it")
          .groupBy(col("o"))
          .agg(sort_array(collect_list(col("it"))).as("a"))
        // triple fan-out bounded by each basket's own length (baskets
        // post-Apriori are small — <= 7 on TPC-H — but nothing truncates
        // if that ever changes); the i<j<k filter on the sorted array
        // emits each triple once
        val tr = bk
          .select(col("a"), explode(expr("sequence(1, size(a))")).as("i"))
          .select(col("a"), col("i"),
            explode(expr("sequence(1, size(a))")).as("j"))
          .filter(col("i") < col("j"))
          .select(col("a"), col("i"), col("j"),
            explode(expr("sequence(1, size(a))")).as("k"))
          .filter(col("j") < col("k"))
          .select(expr("a[i - 1]").as("s1"), expr("a[j - 1]").as("s2"),
            expr("a[k - 1]").as("s3"))
        tr.groupBy(col("s1"), col("s2"), col("s3"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("s1"), col("s2"), col("s3"))
          .limit(20)
      }),

    // ---- Newman modularity of an attribute partition ------------------------
    // Does a KNOWN grouping explain the graph's edges? Modularity
    // Q = Σ_c (m_c/m − (d_c/2m)²) of the brand partition over the
    // co-purchase part graph — the metric that scores q185-style
    // community detection, here applied to an attribute partition so the
    // answer doubles as an audit ("do co-purchases follow brands?").
    // Exact int inputs (within-community edge counts, community degree
    // sums, 2m); each community's contribution is a pinned IEEE tree and
    // the ≤5-term total rides the decimal grid. 100 TB plan: edges build
    // once (the q112/q287 sparsifier); mfgr attaches via a keyed join
    // (part grows with SF — never broadcast); everything after is
    // community-grain.
    QuerySpec(
      "q329_modularity",
      Some(s"""WITH $EdgeSql,
        pm AS (SELECT p_partkey AS p, p_brand AS c FROM part),
        ec AS (SELECT x.c AS ca, y.c AS cb
          FROM e0 JOIN pm x ON x.p = e0.pa JOIN pm y ON y.p = e0.pb),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ec),
        wc AS (SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS m_c
          FROM ec WHERE ca = cb GROUP BY 1),
        dc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d_c
          FROM (SELECT ca AS c FROM ec UNION ALL SELECT cb AS c FROM ec) z
          GROUP BY 1),
        ct AS (SELECT dc.c, COALESCE(wc.m_c, 0) AS m_c, dc.d_c,
            CAST(COALESCE(wc.m_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
            - (CAST(dc.d_c AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
              * (CAST(dc.d_c AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
              AS contrib
          FROM dc LEFT JOIN wc ON wc.c = dc.c, m)
        SELECT c AS community, CAST(m_c AS BIGINT) AS n_edges_within,
          d_c AS degree_sum,
          floor(contrib * 1000000.0) / 1000000.0 AS contrib,
          floor(q * 1000000.0) / 1000000.0 AS modularity
        FROM ct, (SELECT ${graft.functions.Exact.sqlDsum("contrib")} AS q
          FROM ct) z"""),
      (s, d) => {
        val e = supportEdges(s, d)
        // part grows with SF: keyed join for the attribute attach
        val pm = t(s, d, "part")
          .select(col("p_partkey").as("p"), col("p_brand").as("c"))
        val ec = e.join(pm.select(col("p").as("pa"), col("c").as("ca")),
            "pa")
          .join(pm.select(col("p").as("pb"), col("c").as("cb")), "pb")
          .select(col("ca"), col("cb"))
          .cache() // m, within-counts, and degree sums all read it
        val m = ec.agg(count(lit(1)).as("m"))
        val wc = ec.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("c")).agg(count(lit(1)).as("m_c"))
        val dc = ec.select(col("ca").as("c"))
          .unionByName(ec.select(col("cb").as("c")))
          .groupBy(col("c")).agg(count(lit(1)).as("d_c"))
        // coalesce FIRST (a community can have zero internal edges),
        // then the pinned contribution arithmetic
        val ct2 = dc.join(broadcast(wc), Seq("c"), "left")
          .crossJoin(broadcast(m)) // 1-row edge total
          .select(col("c"), coalesce(col("m_c"), lit(0L)).as("m_c"),
            col("d_c"), col("m"))
          .select(col("c"), col("m_c"), col("d_c"),
            (col("m_c").cast("double") / col("m").cast("double")
              - (col("d_c").cast("double") / (lit(2) * col("m"))
                  .cast("double"))
                * (col("d_c").cast("double") / (lit(2) * col("m"))
                  .cast("double"))).as("contrib"))
        val q = ct2.agg(graft.functions.Exact.dsum(col("contrib")).as("q"))
        ct2.crossJoin(broadcast(q)) // 1-row modularity total
          .select(col("c").as("community"), col("m_c").as("n_edges_within"),
            col("d_c").as("degree_sum"),
            (floor(col("contrib") * lit(1000000.0)) / lit(1000000.0))
              .as("contrib"),
            (floor(col("q") * lit(1000000.0)) / lit(1000000.0))
              .as("modularity"))
      })
  )
}
