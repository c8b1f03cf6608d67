package graft.queries

import graft.Tables
import graft.functions.Exact
import graft.operators.BlockScan
import graft.functions.Portable.{h64Spark, h64Duck, P, chunkFpSpark,
  chunkFpDuck, setFpSpark, setFpDuck, toksSpark, toksDuck, ngramsSpark,
  ngramsDuck, qcosDuck, jaccardSpark, jaccardDuck, interDuck}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication surface (mandated extension; SURVEY §2.B "Dedup"):
  * exact content dedup, MinHash+LSH near-dup, SimHash near-dup, inverted
  * index n-gram Jaccard, and embedding-cosine near-dup.
  *
  * The reference's only dedup notions are control-plane (a month-string
  * ledger gate, reference src/lambda_functions/fetch_raw_data.py:135, and
  * per-file Processed tags, s3_operations.py:33); the data-plane dedup
  * family here is the LLM-pipeline surface the driver mandates.
  *
  * Oracle parity strategy: every hash is *portable* — derived from md5 hex
  * (identical in Spark and DuckDB) via `CAST(hex-prefix AS BIGINT)`, so the
  * whole MinHash/SimHash/banding pipeline produces bit-identical candidates
  * in both engines and the t2 compare is exact, not statistical.
  *
  * Scale posture (100 TB):
  *  - No all-pairs join anywhere on the Spark side: MinHash pairs come from
  *    band-bucket self-joins (shuffle on band key), SimHash pairs from
  *    15-bit band buckets (exact for hamming<=3 by pigeonhole), n-gram
  *    pairs from a doc-frequency-capped inverted index (the cap bounds
  *    bucket fan-out, so candidate count stays ~linear in corpus size), and
  *    cosine pairs are blocked on the label key (LSH variant in
  *    Similarity.scala). ScaleSpec counts each pipeline's candidates at two
  *    corpus sizes and fails on super-linear growth.
  *  - All pipelines are groupBy/join over derived keys — partial aggregation
  *    and AQE skew handling apply; nothing collects to the driver.
  */
object Dedup {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // ---- q346 band-planning constants ---------------------------------------

  /** Systematic pair-sample strides for the corpus similarity profile:
    * linear in corpus size (<= 4 pairs per doc), content-independent,
    * deterministic in both engines.
    */
  private val BandPlanOffsets = Seq(1, 13, 101, 251)

  /** Every (bands, rows) divisor layout of the 16 minhashes. */
  private val BandLayouts = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** LSH acceptance probability 1 - (1 - s^r)^b as SQL text with powers
    * spelled as explicit left-associated multiply chains: every step is
    * one correctly-rounded IEEE double multiply on identical inputs, so
    * the value is bit-identical in Spark and DuckDB (pow() is libm-
    * dependent and is never used). `sExpr` must be a double-valued SQL
    * fragment valid in both dialects.
    */
  private def pAccept(sExpr: String, b: Int, r: Int): String = {
    val sr = (1 to r).map(_ => s"($sExpr)").mkString(" * ")
    val q = s"(1.0 - ($sr))"
    val qb = (1 to b).map(_ => q).mkString(" * ")
    s"(1.0 - ($qb))"
  }

  // ---- portable hash primitives (graft.functions.Portable) ----------------

  /** Universal-hash family h_k(x) = (a_k * (x mod P) + b_k) mod P over the
    * Mersenne prime P=2^31-1. Constants are fixed (seed 42) and interpolated
    * into BOTH engines' SQL, so the family is identical on both sides.
    * a*(x%P)+b <= (P-1)^2 + P < 2^63: no 64-bit overflow in either engine.
    */
  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands
  private val perms: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Seq.fill(NumHashes)((1L + rng.nextLong(P - 1), rng.nextLong(P)))
  }

  // ---- shingling ----------------------------------------------------------
  //
  // Shingles are materialized as HASH SETS (array<bigint>), never as
  // string arrays: the 60-bit portable hash is computed once per shingle
  // at shingling time, and every downstream join key, band bucket, and
  // set intersection operates on longs — string payloads are never
  // shuffled or re-hashed. Hash collisions (~260k shingles vs 2^60) are
  // negligible, and the oracle hashes identically, so candidate sets and
  // Jaccard values still match exactly.

  /** q40's normalized content fingerprint of `text` (the set fingerprint
    * of its lowercased space-split tokens), one per engine.
    */
  private val textFp = expr(setFpSpark(toksSpark("text")))
  private val textFpDuck = setFpDuck(toksDuck("text"))

  /** Word 3-gram shingle hash set, SORTED ascending — order is invisible
    * to minhash/bands/set-cardinality but lets the verify intersection run
    * as a fused merge scan (expressions.SortedIntersectCount). Spark
    * arrays are 0-indexed.
    */
  private val shinglesSpark =
    s"array_sort(array_distinct(${ngramsSpark("toks", 3, h64Spark)}))"

  /** DuckDB mirror (1-indexed lists; range(a,b) = [a, b)). */
  private val shinglesDuck =
    s"list_distinct(${ngramsDuck("toks", 3, h64Duck)})"

  /** Minhash k over the shingle hash set: pure integer arithmetic. */
  private def minhashSpark(k: Int): String = {
    val (a, b) = perms(k)
    s"array_min(transform(shingles, h -> (${a}L * (h % $P) + ${b}L) % $P))"
  }

  private def minhashDuck(k: Int): String = {
    val (a, b) = perms(k)
    s"list_min([($a * (h % $P) + $b) % $P for h in shingles])"
  }

  /** Band key j = md5 of its RowsPerBand minhash values. */
  private def bandKeySpark(j: Int): String = {
    val cols = (j * RowsPerBand until (j + 1) * RowsPerBand)
      .map(k => s"cast(mh$k as string)").mkString(", ")
    s"md5(concat_ws(',', $cols))"
  }

  private def bandKeyDuck(j: Int): String = {
    val cols = (j * RowsPerBand until (j + 1) * RowsPerBand)
      .map(k => s"CAST(mh$k AS VARCHAR)").mkString(", ")
    s"md5(concat_ws(',', $cols))"
  }

  /** Exact-verify tail shared by the near-dup oracles: length prefilter
    * (J >= t forces min(|a|,|b|) >= t * max(|a|,|b|) — a necessary
    * condition, so filtering on it loses nothing), then ONE set
    * intersection per surviving pair. `pairsCte` must expose
    * doc_a/doc_b/sh_a/sh_b.
    */
  private def verifyDuck(threshold: Double): String =
    s"""${verifyCteDuck(threshold)}
      SELECT doc_a, doc_b, jaccard FROM verified"""

  /** Same verify tail but ending as a CTE (`verified`), for oracles that
    * keep composing (q48's component closure).
    */
  private def verifyCteDuck(threshold: Double): String =
    s"""sized AS (SELECT doc_a, doc_b, sh_a, sh_b,
          len(sh_a) AS la, len(sh_b) AS lb FROM pairs
        WHERE least(len(sh_a), len(sh_b))
          >= $threshold * greatest(len(sh_a), len(sh_b))),
      inter AS (SELECT doc_a, doc_b, la, lb,
          ${interDuck("sh_a", "sh_b")} AS i FROM sized),
      verified AS (SELECT doc_a, doc_b,
          ${jaccardDuck("i", "la", "lb")} AS jaccard
        FROM inter WHERE ${jaccardDuck("i", "la", "lb")} >= $threshold)"""

  /** DuckDB signature chain shared by q42/q317: emits `sim(doc_id, sig)`
    * (the 60-bit simhash per doc). One definition — band layouts differ
    * downstream, the signature must not drift between them.
    */
  private def simhashSigDuckCte: String =
    s"""docs AS (
        SELECT doc_id, ${toksDuck("text")} AS toks FROM documents),
      ths AS (SELECT doc_id,
          [${h64Duck("t")} for t in toks] AS ths FROM docs),
      sim AS (SELECT doc_id,
          list_sum([CASE WHEN list_sum([CASE WHEN (h >> i) & 1 = 1
                THEN 1 ELSE -1 END for h in ths]) >= 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
            for i in range(0, 60)]) AS sig
        FROM ths)"""

  /** Recursive-closure labeling (the q48/q128/q210 oracles, under WITH
    * RECURSIVE): each node reaches its whole component and takes the
    * minimum it reaches as its label. Expects `sym(u, v)` in scope; emits
    * `roots(doc_id, component)`. O(Σ component²) rows —
    * [[minLabelRootsDuck]] is the bounded labeling.
    */
  private val reachRootsDuck: String =
    """reach AS (
            SELECT u, u AS v FROM (SELECT DISTINCT u FROM sym) z
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v),
          roots AS (SELECT u AS doc_id, MIN(v) AS component
            FROM reach GROUP BY u)"""

  /** Unrolled min-label propagation (the Spark star rounds' oracle twin,
    * q261's MATERIALIZED-chain discipline): each round every node takes
    * the min label over itself and its neighbors, so after R rounds a
    * label has spread R hops — exact connected components for any graph
    * of diameter <= R, at O(R * |E|) total rows instead of the recursive
    * closure's O(Σ component²). Expects `sym(u, v)` (symmetric edges) in
    * scope; emits `roots(doc_id, component)`.
    */
  private[graft] def minLabelRootsDuck(rounds: Int, p: String = ""): String = {
    // one extra materialized round past `rounds` is a FIXPOINT GUARD
    // (round-12 advice): the unrolled chain is exact only for component
    // diameter <= rounds, and a future fixture with a longer verified
    // near-dup chain would otherwise under-merge silently and fail the
    // oracle compare with a confusing component diff. If the extra round
    // still moves any label, the oracle itself errors with an explicit
    // message instead. Cost: one O(|E|) round.
    // `p` prefixes every CTE name (and the expected `{p}sym` edge input)
    // so one oracle can run the chain over two graphs (q390 needs both
    // the full and the old-only component labels).
    val chain = (1 to rounds + 1).map { i =>
      s"""${p}l$i AS MATERIALIZED (SELECT x.u, MIN(x.l) AS l FROM (
            SELECT u, l FROM ${p}l${i - 1}
            UNION ALL
            SELECT s.u, p.l FROM ${p}sym s JOIN ${p}l${i - 1} p
              ON p.u = s.v) x
          GROUP BY x.u)"""
    }.mkString(",\n          ")
    s"""${p}nodes AS (SELECT DISTINCT u FROM ${p}sym),
          ${p}l0 AS (SELECT u, u AS l FROM ${p}nodes),
          $chain,
          ${p}conv AS (SELECT CAST(COUNT(*) AS BIGINT) AS moved
            FROM ${p}l$rounds a JOIN ${p}l${rounds + 1} b
            ON a.u = b.u AND a.l <> b.l),
          ${p}roots AS (SELECT u AS doc_id,
            CASE WHEN (SELECT moved FROM ${p}conv) = 0 THEN l
              ELSE CAST(error('min-label chain not converged in $rounds rounds: component diameter exceeds the unroll')
                AS BIGINT) END AS component FROM ${p}l$rounds)"""
  }

  /** MinHash band CTE block (expects `sh` in scope): emits mh/bands/bl
    * and `cand(doc_a, doc_b)`; `candWhere` optionally restricts the
    * probe side (q324's incremental filter). ONE definition — every
    * MinHash oracle draws its band logic from here.
    */
  private def minhashBandCandDuck(candWhere: String = ""): String = {
    val mhs = (0 until NumHashes)
      .map(k => s"${minhashDuck(k)} AS mh$k").mkString(", ")
    val bks = (0 until Bands)
      .map(j => s"${bandKeyDuck(j)} AS bk$j").mkString(", ")
    val bkCase = (0 until Bands - 1)
      .map(j => s"WHEN $j THEN bk$j").mkString(" ")
    s"""mh AS (SELECT doc_id, $mhs FROM sh),
      bands AS (SELECT doc_id, $bks FROM mh),
      bl AS (SELECT doc_id, j,
          CASE j $bkCase ELSE bk${Bands - 1} END AS bkey
        FROM bands, (SELECT unnest(range(0, $Bands)) AS j) z),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        $candWhere)"""
  }

  /** `pairs(doc_a, doc_b, sh_a, sh_b)`: the candidate pairs `cand` with
    * both shingle sets of `sh` — the input of [[verifyCteDuck]].
    */
  private val pairsDuck =
    """pairs AS (SELECT doc_a, doc_b,
          x.shingles AS sh_a, y.shingles AS sh_b
        FROM cand JOIN sh x ON x.doc_id = doc_a
                  JOIN sh y ON y.doc_id = doc_b)"""

  /** The full MinHash candidate+pair CTE chain over `documents`
    * (shingles → minhashes → band keys → bucket self-join, probe side
    * restricted by `candWhere` → shingle-joined `pairs`).
    */
  private def minhashCteChain(candWhere: String = ""): String =
    s"""$shingledDuckCte,
      ${minhashBandCandDuck(candWhere)},
      $pairsDuck"""

  /** The verified (J >= 0.8) MinHash near-dup graph as CTEs over
    * `documents`: [[minhashCteChain]], `verified` and its symmetric edges
    * `sym(u, v)` — what both labelings ([[reachRootsDuck]],
    * [[minLabelRootsDuck]]) read.
    */
  private[graft] def minhashSymDuck: String =
    s"""${minhashCteChain()},
          ${verifyCteDuck(0.8)},
          ${symDuck()}"""

  /** `{p}sym(u, v)`: the `verified` edges that pass `where`, in both
    * directions.
    */
  private def symDuck(p: String = "", where: String = ""): String =
    s"""${p}sym AS (SELECT doc_a AS u, doc_b AS v FROM verified $where
            UNION ALL SELECT doc_b AS u, doc_a AS v FROM verified $where)"""

  /** documents → (doc_id, shingles, …) with the token/shingle prep shared
    * by the near-dup queries.
    */
  private[graft] def shingled(s: SparkSession, d: String): DataFrame = {
    withShingles(t(s, d, "documents"))
  }

  /** The cached (doc_id, shingles) frame of `documents` — the input of
    * every near-dup chain. The cache is decided here, not by callers: the
    * band index and both verify join sides read it, and a caller that
    * left it out ran the shingle+md5 chain up to 3x per run.
    */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame =
    shingled(s, d).select(col("doc_id"), col("shingles")).cache()

  /** Shingle any frame with a `text` column (streaming-safe: row-local
    * expressions only) — the one definition of the near-dup token/shingle
    * prep, shared with [[graft.streaming.NearDupStream]].
    */
  private[graft] def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr(toksSpark("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", expr(shinglesSpark))

  /** `sh` with its 16 minhash columns `mh0`…`mh15` (row-local). */
  private def minhashed(sh: DataFrame): DataFrame =
    (0 until NumHashes).foldLeft(sh) { (df, k) =>
      df.withColumn(s"mh$k", expr(minhashSpark(k)))
    }

  /** One row per (doc, band) of `sh`: the `keep` columns, then `band` and
    * its bucket key `bkey`. Row-local (minhash + band md5).
    */
  private def bandRows(sh: DataFrame, keep: String*): DataFrame = {
    val bandKeys = (0 until Bands).map(j => expr(bandKeySpark(j)))
    minhashed(sh).select(keep.map(col) :+ posexplode(array(bandKeys: _*)): _*)
      .toDF(keep :+ "band" :+ "bkey": _*)
  }

  /** (doc_id, shingles, …) → one row per band with its bucket key —
    * the LSH index rows [[minhashCandidates]] self-joins on, exposed so
    * the streaming admission operator keys its state on the identical
    * (band, bkey) space. Streaming-safe.
    */
  private[graft] def bandIndex(sh: DataFrame): DataFrame =
    bandRows(sh, "doc_id", "shingles")

  private val shingledDuckCte =
    s"""docs AS (
         SELECT doc_id, ${toksDuck("text")} AS toks FROM documents),
       sh AS (
         SELECT doc_id, $shinglesDuck AS shingles
         FROM docs WHERE len(toks) >= 3)"""

  // ---- candidate generation (shared with ScaleSpec's sublinearity guard) --
  //
  // Each near-dup pipeline's scale hazard is its CANDIDATE stage — the
  // verify tail only sees what these emit. Exposing them `private[graft]`
  // lets ScaleSpec count candidates at two corpus sizes and fail on any
  // silent all-pairs regression, without duplicating the logic here.

  /** Winnowing fingerprint selection (q387's candidate space —
    * Schleimer et al.): positional 3-gram hashes, every w=4 window
    * selects its min hash (rightmost on ties) — the IDENTICAL selected
    * set q219 computes via its closed-form window-min predicate
    * (QueriesSpec proves both against one driver reference). Returns
    * one row per selected (doc_id, h, pos) with the doc's gram count
    * riding along. Row-local on the Spark side — selection is array
    * math, no window node, no w-grid explode.
    */
  private[graft] def winnowedPrints(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("toks", expr(toksSpark("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("hs", expr(ngramsSpark("toks", 3, h64Spark)))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"),
        explode(expr(
          """array_distinct(transform(
             sequence(0, greatest(size(hs) - 4, 0)),
             j -> array_min(transform(
               sequence(j, least(j + 3, size(hs) - 1)),
               i -> struct(element_at(hs, i + 1) AS h, -i AS ni)))))"""))
          .as("sw"))
      .select(col("doc_id"), col("n_grams"), col("sw.h").as("h"),
        (-col("sw.ni")).as("pos"))

  /** DuckDB mirror of [[winnowedPrints]] (explicit w-grid + rank —
    * list-of-struct minima aren't portable): emits `hm(doc_id, hs, m)`
    * and `sel(doc_id, h, pos)`.
    */
  private val winnowDuckCtes: String =
    s"""tk AS (
        SELECT doc_id, ${toksDuck("text")} AS toks FROM documents),
      hsd AS (SELECT doc_id, ${ngramsDuck("toks", 3, h64Duck)} AS hs
        FROM tk WHERE len(toks) >= 3),
      hm AS (SELECT doc_id, hs, len(hs) AS m FROM hsd),
      js AS (SELECT doc_id, hs, m,
          unnest(range(0, greatest(m - 4, 0) + 1)) AS j
        FROM hm),
      gi AS (SELECT doc_id, j,
          unnest(range(j, least(j + 4, m))) AS i, hs
        FROM js),
      gh AS (SELECT doc_id, j, i, hs[CAST(i + 1 AS INT)] AS h FROM gi),
      pick AS (SELECT doc_id, j, i, h, row_number()
          OVER (PARTITION BY doc_id, j ORDER BY h, i DESC) AS rk
        FROM gh),
      sel AS (SELECT DISTINCT doc_id, h, i AS pos
        FROM pick WHERE rk = 1)"""

  /** MinHash band-bucket candidate pairs (doc_a < doc_b) with the probe
    * side restricted to `doc_b >= from`: a new batch probing the whole
    * index (q324's shape), where old x old pairs never materialize. The
    * default 0 probes every doc (ids are non-negative).
    */
  private[graft] def minhashCandidates(sh: DataFrame,
      from: Long = 0L): DataFrame = {
    val bl = bandRows(sh, "doc_id")
      // EAGER materialization: both self-join sides below otherwise
      // recompute the 16 minhash passes + band md5s from the shingle
      // table — the family's dominant warm-path CPU, paid twice per run
      // in every minhash query (measured: two ~4-6 s task-time copies of
      // this subtree in q128/q390). The checkpointed frame is 4 rows/doc
      // (band keys only), far smaller than the shingle sets.
      .localCheckpoint(true)
    val probe = if (from > 0L) bl.filter(col("doc_id") >= from) else bl
    bl.as("x").join(probe.as("y"),
        col("x.band") === col("y.band")
          && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** The verified near-dup edges of `sh`: MinHash candidates whose exact
    * Jaccard is at least 0.8, as (doc_a, doc_b, jaccard).
    */
  private[graft] def minhashEdges(sh: DataFrame): DataFrame =
    verifyJaccard(sh, minhashCandidates(sh), 0.8)

  /** documents → (doc_id, sig): the 60-bit simhash signature table.
    *
    * The sign-sums run as ONE native [[graft.expressions.SimhashSig]]
    * aggregate (a 480-byte long[60] buffer, partial+final) rather than 60
    * declarative conditional sums — same signature bit-for-bit, ~an order
    * of magnitude less per-row expression evaluation (this was the
    * suite's hotspot at 8.9 s median, round-3 verdict).
    */
  private[graft] def simhashSignatures(s: SparkSession,
      d: String): DataFrame = {
    t(s, d, "documents")
      .select(col("doc_id"), explode(expr(toksSpark("text"))).as("tok"))
      .select(col("doc_id"), expr(h64Spark("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(expr("simhash_sig(h)").as("sig"))
  }

  /** SimHash band-bucket occupancy cap. Low-entropy corpora (template
    * families — every synthetic fixture doc shares most common tokens)
    * produce HOT band buckets: hundreds of moderately-similar docs agree
    * on one 15-bit band, and the self-join inside such a bucket is
    * quadratic in its size regardless of band width. Buckets over the cap
    * are excluded from candidate generation — deterministically (occupancy
    * is a function of the data) and mirrored in the oracle, so both
    * engines still agree exactly. The recall trade is explicit: a
    * hamming<=3 pair is missed only if EVERY band it agrees on is hot,
    * and hot buckets are template families, which the exact-fingerprint
    * pass (q40) collapses before near-dup runs in a full pipeline.
    */
  private[graft] val SimhashBucketCap = 64

  /** SimHash 15-bit band-bucket candidate pairs (doc_a < doc_b), capped
    * per bucket: Σ_b n_b² over surviving buckets is <= cap · Σ_b n_b,
    * i.e. linear in corpus size by construction.
    */
  private[graft] def simhashCandidates(sim: DataFrame): DataFrame =
    simhashBandCandidates(sim, nBands = 4, width = 15)

  /** The band split of a 60-bit signature column: an array of `nBands`
    * bigint bands of `width` bits, band j = bits [width·j, width·(j+1)).
    */
  private[graft] def bandSplit(sig: String, nBands: Int, width: Int)
      : Column =
    expr(s"transform(sequence(0, ${nBands - 1}), " +
      s"j -> (shiftright($sig, $width*j) & ${(1L << width) - 1}L))")

  /** Generalized band-bucket candidates over the 60-bit signature:
    * `nBands` bands of `width` bits (nBands*width <= 60), occupancy cap
    * as in [[simhashCandidates]]. Fewer, WIDER bands is the corpus-scale
    * knob (q317): 20-bit bands have 32× more buckets than 15-bit ones, so
    * occupancy — and with it the capped-linear constant — drops, at the
    * pigeonhole price of guaranteeing hamming <= nBands-1 instead of <= 3.
    */
  private[graft] def simhashBandCandidates(sim: DataFrame, nBands: Int,
      width: Int): DataFrame =
    // EAGER materialization, as in ngramCandidates: one pass instead of
    // one per self-join side, and a build side that does not depend on
    // which side's stages finish first (q348).
    bandPairs(coolBands(sim, nBands, width).localCheckpoint(true))

  /** The band rows `(band_j, band, id, sig)` of a 60-bit signature frame
    * `(id, sig)`, split by [[bandSplit]], in buckets of at most `cap`
    * members — the input of [[bandPairs]]. The media near-dup families
    * (q352, q378) use it over their fingerprints.
    */
  private[graft] def coolBands(sim: DataFrame, nBands: Int, width: Int,
      id: String = "doc_id", cap: Int = SimhashBucketCap): DataFrame = {
    require(nBands * width <= 60, s"bands $nBands x $width exceed 60 bits")
    val bl = sim.select(col(id), col("sig"),
        posexplode(bandSplit("sig", nBands, width)))
      .toDF(id, "sig", "band_j", "band")
    // Band-stats table: at most nBands * 2^width rows — always
    // broadcastable at the widths in use (<= 3 * 2^20).
    val cool = bl.groupBy(col("band_j"), col("band")).count()
      .filter(col("count") <= cap)
      .select(col("band_j"), col("band"))
    bl.join(broadcast(cool), Seq("band_j", "band"))
  }

  /** Candidate pairs `(x_a, x_b)`, x_a < x_b, that share a bucket of
    * [[coolBands]]' output, where x is `id` without its `_id` suffix.
    */
  private[graft] def bandPairs(blc: DataFrame, id: String = "doc_id")
      : DataFrame = {
    val pair = id.stripSuffix("_id")
    blc.as("x").join(blc.as("y"),
        col("x.band_j") === col("y.band_j")
          && col("x.band") === col("y.band")
          && col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as(s"${pair}_a"), col(s"y.$id").as(s"${pair}_b"))
      .distinct()
  }

  /** DuckDB twin of [[coolBands]] + [[bandPairs]]: the CTE chain
    * `bl/cool/blc/cand` (each name + `sfx`) over `src(id, sig)`, ending in
    * `cand(x_a, x_b)`.
    */
  private[graft] def duckBandCandidates(src: String, nBands: Int,
      width: Int, id: String = "doc_id", sig: String = "sig",
      cap: Int = SimhashBucketCap, sfx: String = ""): String = {
    val pair = id.stripSuffix("_id")
    s"""bl$sfx AS (SELECT $id, j, ($sig >> ($width*j)) & ${(1L << width) - 1}
          AS band FROM $src, (SELECT unnest(range(0, $nBands)) AS j) z),
        cool$sfx AS (SELECT j, band FROM bl$sfx GROUP BY j, band
          HAVING COUNT(*) <= $cap),
        blc$sfx AS (SELECT bl$sfx.$id, bl$sfx.j, bl$sfx.band
          FROM bl$sfx JOIN cool$sfx
            ON cool$sfx.j = bl$sfx.j AND cool$sfx.band = bl$sfx.band),
        cand$sfx AS (SELECT DISTINCT a.$id AS ${pair}_a, b.$id AS ${pair}_b
          FROM blc$sfx a JOIN blc$sfx b ON a.j = b.j AND a.band = b.band
            AND a.$id < b.$id)"""
  }

  /** Sampled, df-capped inverted-index candidate pairs (doc_a < doc_b). */
  private[graft] def ngramCandidates(sh: DataFrame): DataFrame = {
    val samp = sh.select(col("doc_id"),
        explode(col("shingles")).as("s"))
      .filter(col("s") % 8 === 0)
    val rare = samp.groupBy(col("s")).count()
      .filter(col("count") <= 20).select(col("s"))
    // EAGER materialization (the minhashCandidates discipline): both
    // self-join sides read one relation with one set of statistics, so
    // the join's build side is the same on every run — computed per
    // side, it followed whichever side's stages finished first (q348).
    val rareInv = samp.join(rare, "s").localCheckpoint(true)
    rareInv.as("x").join(rareInv.as("y"),
        col("x.s") === col("y.s")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** q373 prefix-filter candidates (doc_a, doc_b) — COMPLETE for Jaccard
    * >= PfNum/PfDen (vs the sampled-index heuristic above, which trades
    * recall for cost): each doc keeps only its rarest-first prefix of
    * |S| - ceil(t*|S|) + 1 shingles under the global (df, shingle) order,
    * and only prefixes are inverted. Losslessness (Chaudhuri/Bayardo
    * prefix-filter theorem): the first common shingle w (global order) of
    * a qualifying pair has all >= ceil(t*|S|) common shingles at-or-after
    * it on BOTH sides, forcing w into both prefixes — so the pair surfaces
    * from the prefix index. Rarest-first minimizes the df of inverted
    * shingles, which is what bounds the bucket fan-out.
    */
  private[graft] def prefixCandidates(sh: DataFrame): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val dfc = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pre = inv.join(dfc, "s")
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(df, s)))," +
        " x -> x.s)").as("ordered"), count(lit(1)).as("n"))
      .select(col("doc_id"), explode(expr(
        s"""slice(ordered, 1, cast(n
          - (($PfNum * n + ${PfDen - 1}) div $PfDen) + 1 as int))"""))
        .as("s"))
    pre.as("x").join(pre.as("y"),
        col("x.s") === col("y.s")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  // ---- connected components over near-dup edges ---------------------------

  /** Connected components over an undirected edge list (doc_a, doc_b) →
    * (doc_id, component), where component = the minimum doc_id reachable —
    * the canonical-representative choice a dedup pipeline needs AFTER pair
    * verification (near-dup is not transitive; keeping one doc per pair
    * over-deletes chains).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * literature), which converges in O(log diameter) rounds rather than
    * the diameter rounds of naive label propagation — the difference
    * between 5 and 50 shuffles on a pathological 100 TB chain. Each half-
    * round is one partial-agg min-groupBy + one equi-join; edges stay
    * canonical (larger id, smaller id) and deduped, so the working set
    * only shrinks. The driver loop reads ONE count per round (convergence
    * check), never data. Verified against a union-find reference on
    * random graphs (LawsCheck) and the DuckDB recursive-closure oracle
    * (q48).
    */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    // Materialize the incoming edge frame ONCE: both `verts` and `e`
    // derive from it, and `verts` isn't consumed until the final join —
    // without this checkpoint the whole upstream pipeline (in q48: the
    // LSH band join + Jaccard verify) re-executes a second time there
    // (measured: ~2x q41's full cost inside q48 before this).
    val raw = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint(true)
    // localCheckpoint (eager), not cache(): each round's frame references
    // the previous round's THREE times, so with cache() the LOGICAL plan
    // still triples per round — analysis/optimization time explodes
    // exponentially even though execution reads cached blocks (measured:
    // 14 s round 2 over 244 edges). Checkpointing replaces the plan with
    // the materialized rows, keeping every round's plan constant-size.
    val verts = raw.select(col("u"))
      .unionByName(raw.select(col("v").as("u")))
      .distinct().select(col("u").as("doc_id"))
      .localCheckpoint(false) // lazy: materialized by the final join's action
    // Canonical DOWNWARD edges (u > v), self-loops dropped (connectivity
    // no-ops; their vertices survive via `verts`).
    var e = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(true)
    // (eager: round 1 references it several times)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) {
      // large-star: every neighbor LARGER than u links to u's minimum
      // neighborhood member — long chains halve.
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // No distinct here: duplicates are bounded by |sym| and the two
      // consumers dedup anyway (sMins aggregates; small ends distinct) —
      // dropping the exchange saves a full stage per round.
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: every neighbor (all are smaller — edges point down)
      // re-links to the minimum; u itself links there too.
      val sMins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(sMins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(sMins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint(false) // the convergence count materializes it
      // Converged when the edge set is a fixed point (stars only). Both
      // sides are distinct, so ONE symmetric-difference count (full outer
      // join) decides it — a single action per round, not two exceptAlls.
      converged = small.withColumn("s", lit(1))
        .join(e.withColumn("t", lit(1)), Seq("u", "v"), "full")
        .filter(col("s").isNull || col("t").isNull)
        .count() == 0L
      e = small
      rounds += 1
    }
    require(converged, s"components did not converge in $rounds rounds")
    // Stars: (u, root) with root < u; roots and isolated-after-self-loop
    // vertices label themselves.
    verts.join(e.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("v"), col("doc_id")).as("component"))
  }

  // ---- exact-Jaccard verification of a candidate-pair frame ---------------

  private[graft] def verifyJaccard(
      sh: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("la", size(col("sh_a")))
      .withColumn("lb", size(col("sh_b")))
      // length prefilter: necessary for J >= t, so exactness is preserved
      // while most candidates skip the O(|a|+|b|) intersection entirely
      .filter(least(col("la"), col("lb"))
        >= lit(threshold) * greatest(col("la"), col("lb")))
      // fused merge-scan intersect (arrays are sorted by construction)
      .withColumn("i", expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("jaccard", expr(jaccardSpark("i", "la", "lb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Sorted-neighborhood window width (q194): each record pairs with the
    * next W−1 records in blocking-key order.
    */
  private val SnWindow = 10

  /** q212 fingerprint df cap: chunks shared by more docs than this are
    * boilerplate, not derivation evidence, and are dropped before the
    * pair join (bounds fan-out per chunk).
    */
  private[graft] val SpanDfCap = 20

  /** q373 prefix-filter Jaccard threshold as an exact rational (7/10):
    * the prefix length n - ceil(t*n) + 1 stays pure integer math in both
    * engines (ceil(7n/10) = (7n+9) div 10).
    */
  private val PfNum = 7
  private val PfDen = 10

  // ---- q382 ladder stage chains (query body + ScaleProbe, one source) ----
  // The composition is exactly where stage-to-stage survivor skew could
  // bend a bounded candidate stage superlinear (round-12 verdict #4), so
  // the probe must measure THE query's stages, not a re-derivation.

  /** q382 stage-1 survivors: q40's normalized-fingerprint exact dedup,
    * keep the min doc_id per fingerprint. Cached (as are s2/s3): each
    * stage frame is consumed TWICE downstream — as the survivor list
    * the output ladder tags and as the next stage's input — so an
    * uncached chain recomputes s1 ~4x (the whole-text window each
    * time). The recompute was the suite's widest bench variance
    * (round-15 verdict #6: 2.6–7.3 s across honest runs of identical
    * code); one cached pass per stage pins the work.
    */
  private[graft] def ladderS1(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    docs
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(textFp)))
      .filter(col("doc_id") === col("rep")).select(col("doc_id"))
      .cache()
  }

  /** q382 stage-2 survivors: q49's keep-first chunk profile over stage-1
    * survivors; a doc survives iff first-occurrence chunks are the
    * majority (n_kept * 2 >= n_chunks).
    */
  private[graft] def ladderS2(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    chunkProfile(docs.join(ladderS1(s, d), "doc_id"))
      .filter(col("n_kept") * 2 >= col("n_chunks"))
      .select(col("doc_id"))
      .cache() // consumed by the output ladder AND stage 3 (see s1)
  }

  /** q49's keep-first chunk profile of `docs` (doc_id, text): per doc,
    * its 10-token chunk count and how many of those chunks are the
    * first corpus-wide occurrence (min (doc_id, pos)) of their
    * fingerprint. Emits (doc_id, n_chunks, n_kept).
    */
  private def chunkProfile(docs: DataFrame): DataFrame =
    docs.withColumn("t", expr(toksSpark("text")))
      .select(col("doc_id"),
        posexplode(expr(chunkFpSpark("t", "10"))).as(Seq("pos", "fp")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"))

  /** DuckDB mirror of [[chunkProfile]] over relation `toks` (doc_id,
    * t = the lowercased tokens): a query emitting (doc_id, n_chunks,
    * n_kept).
    */
  private def chunkProfileDuck(toks: String): String =
    s"""SELECT doc_id, COUNT(*) AS n_chunks,
          CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM (SELECT doc_id, row_number() OVER (
              PARTITION BY u.fp ORDER BY doc_id, u.pos) AS rk
            FROM (SELECT doc_id, unnest(${chunkFpDuck("t", "10")}) AS u
              FROM $toks) z) r
        GROUP BY doc_id"""

  /** q382 stage-3 input: shingled stage-2 survivors (cached — candidate
    * generation AND verify both consume it).
    */
  private[graft] def ladderSh3(s: SparkSession, d: String): DataFrame =
    withShingles(t(s, d, "documents").select(col("doc_id"), col("text"))
        .join(ladderS2(s, d), "doc_id"))
      .select(col("doc_id"), col("shingles")).cache()

  /** q382 stage-3 survivors: stage-2 minus the higher-id side of each
    * verified (J >= 0.8) MinHash near-dup pair.
    */
  private[graft] def ladderS3(s: SparkSession, d: String,
      sh3: DataFrame): DataFrame = {
    val rm3 = minhashEdges(sh3).select(col("doc_b").as("doc_id")).distinct()
    sh3.select(col("doc_id")).join(rm3, Seq("doc_id"), "left_anti")
      .cache() // consumed by the output ladder AND stage 4 (see s1)
  }

  /** q382 stage-4 input: ADAPTIVE-celled quantized embeddings of
    * stage-3 survivors (vec_id is doc-aligned; unembedded docs pass
    * stage 4 and simply don't appear here). The cell prefix length
    * k = clamp(4..48, bitlength(survivors / 32)) tracks the SURVIVOR
    * count (the q205 occupancy-targeting rule, floored at q98's
    * pinned 4-plane grain so stage-4 candidates always REFINE the
    * standalone q98 space) — the round-13 10x probe measured the
    * previous fixed-16-cell grain at 98.7x candidate growth for 10x
    * data (quadratic: survivors grow with the corpus, cells didn't).
    * Cached — both sides of the cell join.
    */
  private[graft] def ladderCells4(s: SparkSession, d: String,
      s3: DataFrame): DataFrame = {
    val base = Similarity.quantSig(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
      .join(s3.select(col("doc_id").as("vec_id")), "vec_id")
    // the 1-row survivor count broadcasts as a bounded scalar NLJ —
    // q380's n_total pattern, node-counted in PlanSpec
    val n = base.agg(count(lit(1)).as("n_s4"))
    base.crossJoin(broadcast(n))
      .withColumn("k", Similarity.adaptiveDepthSpark("n_s4",
        Similarity.CellOccupancy, 4))
      .select(col("vec_id"), col("qv"), col("nsq"),
        expr("sig & (shiftleft(1L, k) - 1)").as("cell")).cache()
  }

  /** q382 stage-4 candidate pairs (pre-cosine): the cell-bounded
    * lower-id self-join — the frame the ScaleProbe row counts.
    */
  private[graft] def ladderPairs4(c4: DataFrame): DataFrame =
    c4.select(col("vec_id").as("kept"), col("cell"),
        col("qv").as("qv_a"), col("nsq").as("nsq_a"))
      .join(c4.select(col("vec_id"), col("cell").as("cell_b"),
        col("qv").as("qv_b"), col("nsq").as("nsq_b")),
        col("cell") === col("cell_b") && col("kept") < col("vec_id"))

  /** Full-graph near-dup component labels over ALL docs (verified
    * J >= 0.8 edges + bounded star rounds; singletons label themselves)
    * — q389's label space, and the equality reference q390's
    * incremental contraction is spec-checked against.
    */
  private[graft] def fullComponents(s: SparkSession, d: String,
      sh: DataFrame): DataFrame = {
    t(s, d, "documents").select(col("doc_id"))
      .join(connectedComponents(minhashEdges(sh)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** q387's distinct per-doc winnowed prints, cached — the pair
    * candidates AND the per-doc print counts both consume it.
    */
  private[graft] def winnowedDocPrints(s: SparkSession,
      d: String): DataFrame =
    winnowedPrints(s, d).select(col("doc_id"), col("h")).distinct().cache()

  /** q387's df-capped winnowing print pair frame (pre n_shared filter) —
    * the ScaleProbe candidate row for the winnowing family. `sp` is
    * [[winnowedDocPrints]].
    */
  private[graft] def winnowingPairCandidates(sp: DataFrame): DataFrame = {
    val dfh = sp.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    val keep = sp.join(
      dfh.filter(col("ndocs").between(2, SpanDfCap)).select(col("h")), "h")
    keep.as("a").join(keep.as("b"),
      col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
  }

  /** q346's two stratum histograms (bucket, n), before the query
    * checkpoints them: the background pair sample at the
    * [[BandPlanOffsets]] doc-id offsets, and the verified (J >= 0.8)
    * MinHash ∪ n-gram candidate pairs. Each is a 20-bucket count, so its
    * own plan shows whether the count combines map-side.
    */
  private[graft] def bandPlanHists(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val sh = shingleSets(s, d)
    val a = sh.select(col("doc_id").as("ida"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("idb"), col("shingles").as("sh_b"))
    val bucketed = least(lit(19),
      floor(expr(jaccardSpark("i", "la", "lb")) * 20).cast("int"))
    val bg = a
      .select(col("ida"), col("sh_a"),
        explode(lit(BandPlanOffsets.toArray)).as("off"))
      .join(b, col("idb") === col("ida") + col("off"))
      .withColumn("la", size(col("sh_a")))
      .withColumn("lb", size(col("sh_b")))
      .withColumn("i", expr("sorted_intersect_count(sh_a, sh_b)"))
    val cu = minhashCandidates(sh).unionByName(ngramCandidates(sh))
      .distinct()
    val hi = cu
      .join(a.withColumnRenamed("ida", "doc_a"), "doc_a")
      .join(b.withColumnRenamed("idb", "doc_b"), "doc_b")
      .withColumn("la", size(col("sh_a")))
      .withColumn("lb", size(col("sh_b")))
      .withColumn("i", expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("j", expr(jaccardSpark("i", "la", "lb")))
      .filter(col("j") >= 0.8)
    def hist(pr: DataFrame) = pr.select(bucketed.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    (hist(bg), hist(hi))
  }

  val all: Seq[QuerySpec] = Seq(

    // ---- exact dedup by normalized content fingerprint --------------------
    // Hash-groupBy dedup: docs that are token-set permutations of each other
    // collapse to one representative (min doc_id). Pure partial-agg-friendly
    // groupBy — the 100 TB plan is a single shuffle on the fingerprint.
    QuerySpec(
      "q40_dedup_exact",
      Some(s"""SELECT $textFpDuck AS fp_norm,
          MIN(doc_id) AS rep_doc, COUNT(*) AS n_docs
        FROM documents GROUP BY 1"""),
      (s, d) =>
        t(s, d, "documents")
          .groupBy(textFp.as("fp_norm"))
          .agg(min(col("doc_id")).as("rep_doc"),
            count(lit(1)).as("n_docs"))),

    // ---- cross-document chunk dedup (C4-style line dedup) -----------------
    // The C4/RefinedWeb "remove duplicated lines across the corpus" pass:
    // the fixture text has no newlines, so the line boundary is a fixed
    // 10-token chunk — same semantics (global keep-first on exact repeated
    // spans), different delimiter. Each doc splits into consecutive chunks;
    // a chunk survives only in its FIRST occurrence corpus-wide (min
    // (doc_id, pos)); output is the per-doc retention profile a corpus
    // cleaner reports. 100 TB plan: chunks shuffle ONCE on the md5 chunk
    // fingerprint (the keep-first window key), then once on doc_id for the
    // profile — both partial-agg/window over derived keys, no self-join,
    // candidates exactly linear in corpus size.
    QuerySpec(
      "q49_chunk_dedup",
      Some(s"""WITH d AS (
          SELECT doc_id, ${toksDuck("text")} AS t FROM documents)
        ${chunkProfileDuck("d")}"""),
      (s, d) => chunkProfile(t(s, d, "documents"))),

    // ---- MinHash + LSH banding near-dup -----------------------------------
    // shingle → 16 portable minhashes → 4 bands of 4 → band-bucket self-join
    // → exact-Jaccard verify at 0.8. Candidates are identical in both
    // engines because the hash family is.
    QuerySpec(
      "q41_minhash_lsh",
      Some(s"""WITH ${minhashCteChain()},
          ${verifyDuck(0.8)}"""),
      (s, d) => minhashEdges(shingleSets(s, d))),

    // ---- near-dup components (canonical-representative selection) ----------
    // The step AFTER pair verification in a real dedup pipeline: group the
    // verified q41 edges into connected components (near-dup similarity is
    // not transitive — chains A~B~C need one canonical doc, not per-pair
    // deletes) and pick min doc_id as each component's representative.
    // Spark side: large-star/small-star (see connectedComponents); oracle:
    // DuckDB recursive-CTE transitive closure over the same edge set —
    // exact agreement because the q41 edges themselves are bit-identical.
    QuerySpec(
      "q48_dedup_components",
      Some(s"""WITH RECURSIVE $minhashSymDuck,
          $reachRootsDuck
        SELECT doc_id, component,
          COUNT(*) OVER (PARTITION BY component) AS n_members
        FROM roots"""),
      (s, d) =>
        connectedComponents(minhashEdges(shingleSets(s, d)))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("component"))))),

    // ---- canonical representative per near-dup cluster ----------------------
    // The step a dedup pipeline actually ships: q48's components tell you
    // WHICH docs are mutual near-dups; this picks the one to KEEP per
    // cluster (longest text, doc_id as the tie-break — the usual "richest
    // copy wins" policy) so every other member can be dropped or
    // redirected. Component labels, the doc join, and both window
    // functions all key on component/doc_id — one extra shuffle on top of
    // the component loop, and the rank window partitions on component (no
    // global sort). Oracle: the q48 recursive-closure chain extended with
    // the same join + rank.
    QuerySpec(
      "q128_cluster_rep",
      Some(s"""WITH RECURSIVE $minhashSymDuck,
          $reachRootsDuck,
          rk AS (SELECT component, r.doc_id, d.n_chars,
              row_number() OVER (PARTITION BY component
                ORDER BY d.n_chars DESC, r.doc_id) AS rk,
              COUNT(*) OVER (PARTITION BY component) AS n_members
            FROM roots r JOIN documents d ON d.doc_id = r.doc_id)
        SELECT component, doc_id AS rep_doc, n_chars AS rep_chars,
          n_members
        FROM rk WHERE rk = 1"""),
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        val wC = Window.partitionBy(col("component"))
        val wR = wC.orderBy(col("n_chars").desc, col("doc_id"))
        connectedComponents(minhashEdges(shingleSets(s, d)))
          .join(docs, "doc_id")
          .withColumn("rk", row_number().over(wR))
          .withColumn("n_members", count(lit(1)).over(wC))
          .filter(col("rk") === 1)
          .select(col("component"), col("doc_id").as("rep_doc"),
            col("n_chars").as("rep_chars"), col("n_members"))
      }),

    // ---- incremental batch dedup vs an existing corpus ---------------------
    // The production shape of dedup: a NEW batch (doc_id >= 250 — the
    // fixture's stand-in for today's crawl) is admitted only if its
    // normalized content fingerprint (q40's key) appears neither in the
    // EXISTING corpus (doc_id < 250, the fingerprint ledger) nor earlier
    // in the batch itself (keep-first). This is the reference's ledger
    // gate (fetch_raw_data.py:135, file-granularity month strings)
    // lifted to content granularity. 100 TB plan: the ledger side is a
    // fingerprint-only projection (corpus-sized but narrow); one
    // left-anti shuffle on fp, then the keep-first window reuses the
    // same fp partitioning — AQE broadcasts the ledger when it is small.
    QuerySpec(
      "q58_incremental_dedup",
      Some(s"""WITH fps AS (
          SELECT doc_id, lang, n_chars, $textFpDuck AS fp
          FROM documents),
        ledger AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 250),
        fresh AS (
          SELECT f.doc_id, f.lang, f.n_chars, f.fp
          FROM fps f LEFT JOIN ledger l ON l.fp = f.fp
          WHERE f.doc_id >= 250 AND l.fp IS NULL)
        SELECT doc_id, lang, n_chars FROM (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
            AS rk FROM fresh) z
        WHERE rk = 1"""),
      (s, d) => {
        val fps = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), textFp.as("fp"))
        val ledger = fps.filter(col("doc_id") < 250).select(col("fp"))
        fps.filter(col("doc_id") >= 250)
          .join(ledger, Seq("fp"), "left_anti")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
      }),

    // ---- SimHash near-dup --------------------------------------------------
    // 60-bit weighted simhash over the token multiset (60 = the portable
    // md5-prefix hash width); candidates from 15-bit band buckets — exact
    // for hamming<=3 by pigeonhole (<=3 differing bits leave >=1 of the 4
    // bands identical; property-checked in LawsCheck) among docs whose
    // shared bands are under the occupancy cap. The only recall caveat is
    // the cap itself (see simhashCandidates — hot buckets are template
    // families, q40's job).
    //
    // Bucket-occupancy bound (the 100 TB sizing argument): the band
    // self-join costs Σ_b n_b² over bucket sizes n_b. 15-bit bands give
    // 32,768 buckets per band (128× smaller expected buckets than the
    // 8-bit sizing this replaced), and the occupancy cap (see
    // simhashCandidates) bounds Σ_b n_b² <= cap · corpus — candidate
    // count is LINEAR in corpus size by construction, verified by
    // ScaleSpec's growth guard at two corpus sizes.
    //
    // Spark plan: explode token hashes and build all 60 sign-sums in ONE
    // codegen'd hash aggregate (60 conditional SUM columns) — each token
    // hashed once, one shuffle on doc_id; the interpreted-lambda
    // alternative (nested `aggregate` over bits x tokens) is ~an order of
    // magnitude slower and sits outside whole-stage codegen. The tiny
    // signature table is cached: three downstream branches reuse it.
    QuerySpec(
      "q42_simhash",
      Some(s"""WITH $simhashSigDuckCte,
        ${duckBandCandidates("sim", 4, 15)}
        SELECT doc_a, doc_b,
          CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
        FROM cand JOIN sim x ON x.doc_id = doc_a
                  JOIN sim y ON y.doc_id = doc_b
        WHERE bit_count(xor(x.sig, y.sig)) <= 3"""),
      (s, d) => {
        val sim = simhashSignatures(s, d).cache()
        val cand = simhashCandidates(sim)
        val xa = sim.select(col("doc_id").as("doc_a"), col("sig").as("sa"))
        val xb = sim.select(col("doc_id").as("doc_b"), col("sig").as("sb"))
        cand.join(xa, "doc_a").join(xb, "doc_b")
          .withColumn("hamming",
            bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
          .filter(col("hamming") <= 3)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
      }),

    // ---- SimHash near-dup, wide-band variant (the corpus-scale knob) -------
    // q42 at 100× measured capped-linear growth with a rising constant
    // (SCALE.md): fixed 15-bit buckets densify as the corpus grows. The
    // SAME 60-bit signature banded as 3 × 20 bits gives 2^20 buckets per
    // band (32× lower expected occupancy); measured at 100×, the
    // candidate CONSTANT drops ~3.2× while relative densification tracks
    // q42's — signature clustering is a property of the corpus, and the
    // occupancy cap stays the linearity guarantee at any width (SCALE.md
    // 100× table). The pigeonhole guarantee narrows from hamming<=3 to
    // hamming<=2 (<=2 differing bits leave >=1 of 3 bands intact —
    // LawsCheck property). Both widths share one signature, so a
    // pipeline can pick width per corpus size for free.
    QuerySpec(
      "q317_simhash_wide",
      Some(s"""WITH $simhashSigDuckCte,
        ${duckBandCandidates("sim", 3, 20)}
        SELECT doc_a, doc_b,
          CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
        FROM cand JOIN sim x ON x.doc_id = doc_a
                  JOIN sim y ON y.doc_id = doc_b
        WHERE bit_count(xor(x.sig, y.sig)) <= 2"""),
      (s, d) => {
        val sim = simhashSignatures(s, d).cache()
        val cand = simhashBandCandidates(sim, nBands = 3, width = 20)
        val xa = sim.select(col("doc_id").as("doc_a"), col("sig").as("sa"))
        val xb = sim.select(col("doc_id").as("doc_b"), col("sig").as("sb"))
        cand.join(xa, "doc_a").join(xb, "doc_b")
          .withColumn("hamming",
            bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
          .filter(col("hamming") <= 2)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
      }),

    // ---- incremental MinHash near-dup (new batch vs corpus index) ----------
    // q58's incremental gate lifted from exact fingerprints to NEAR
    // duplicates — the daily-crawl production shape: today's batch
    // (doc_id >= 250) generates band-bucket candidates against the
    // WHOLE corpus, but the probe side is pre-filtered to new docs, so
    // old x old pairs — already resolved when the index was built —
    // never materialize. Since corpus ids < 250 <= new ids, the single
    // condition doc_a < doc_b with doc_b new covers both match kinds:
    // doc_a is either a corpus doc ('corpus') or an earlier doc of the
    // same batch ('batch'). Verify is q41's exact length-prefiltered
    // Jaccard at 0.8. 100 TB plan: the corpus side contributes only its
    // (band, key) index rows (narrow, pre-built at rest); the join fans
    // out from the BATCH side — per-day work scales with the batch, not
    // the corpus.
    QuerySpec(
      "q324_incremental_neardup",
      Some(s"""WITH ${minhashCteChain("WHERE b.doc_id >= 250")},
          ${verifyCteDuck(0.8)}
          SELECT doc_b AS new_doc, doc_a AS matched_doc, jaccard,
            CASE WHEN doc_a < 250 THEN 'corpus' ELSE 'batch' END
              AS match_src
          FROM verified"""),
      (s, d) => {
        val sh = shingleSets(s, d)
        // probe side pre-filtered to the NEW batch before the band join
        verifyJaccard(sh, minhashCandidates(sh, 250L), 0.8)
          .select(col("doc_b").as("new_doc"), col("doc_a").as("matched_doc"),
            col("jaccard"),
            when(col("doc_a") < 250, "corpus").otherwise("batch")
              .as("match_src"))
      }),

    // ---- MinHash estimator calibration (sketch vs exact Jaccard) -----------
    // The estimator audit for the q41 sketch, the same loop q322 closes
    // for LSH recall and q131/q134 for CMS/HLL: over the band-bucket
    // candidate pairs, how does the 16-hash agreement count (the MinHash
    // Jaccard estimate, est = matches/16) track the EXACT Jaccard? Rows
    // are the 17 possible agreement counts with pair counts and the
    // decimal-grid mean exact Jaccard — E[matches/16] = J is the
    // property being measured, per agreement bucket. Candidates stay
    // band-bounded (never all pairs); per-pair work is one zip_with
    // over 16 ints + one merge-scan intersect.
    QuerySpec(
      "q328_minhash_calibration", {
        val mhList = (0 until NumHashes).map(k => s"mh$k").mkString(", ")
        Some(s"""WITH $shingledDuckCte,
          ${minhashBandCandDuck()},
          ml AS (SELECT doc_id, [$mhList] AS ma FROM mh),
          pr AS (SELECT doc_a, doc_b,
              CAST(list_sum([CASE WHEN x.ma[i] = y.ma[i] THEN 1 ELSE 0
                END for i in range(1, ${NumHashes + 1})]) AS BIGINT)
                AS n_match,
              sx.shingles AS sh_a, sy.shingles AS sh_b
            FROM cand JOIN ml x ON x.doc_id = doc_a
                      JOIN ml y ON y.doc_id = doc_b
                      JOIN sh sx ON sx.doc_id = doc_a
                      JOIN sh sy ON sy.doc_id = doc_b),
          jx AS (SELECT n_match, ${jaccardDuck("sh_a", "sh_b")} AS j
            FROM pr)
          SELECT n_match, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            floor(${graft.functions.Exact.sqlDsum("j")} / COUNT(*) * 1000000.0)
              / 1000000.0 AS mean_jaccard
          FROM jx GROUP BY 1""")
      },
      (s, d) => {
        val sh = shingleSets(s, d)
        val ml = minhashed(sh).select(col("doc_id"),
          array((0 until NumHashes).map(k => col(s"mh$k")): _*).as("ma"))
        val cand = minhashCandidates(sh)
        val pr = cand
          .join(ml.select(col("doc_id").as("doc_a"), col("ma")), "doc_a")
          .join(ml.select(col("doc_id").as("doc_b"),
            col("ma").as("mb")), "doc_b")
          .join(sh.select(col("doc_id").as("doc_a"),
            col("shingles").as("sh_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"),
            col("shingles").as("sh_b")), "doc_b")
          .select(
            expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), " +
              "b -> b))").cast("long").as("n_match"),
            expr("sorted_intersect_count(sh_a, sh_b)").as("i"),
            size(col("sh_a")).as("la"), size(col("sh_b")).as("lb"))
          .select(col("n_match"), expr(jaccardSpark("i", "la", "lb")).as("j"))
        pr.groupBy(col("n_match"))
          .agg(count(lit(1)).as("n_pairs"),
            (floor(graft.functions.Exact.dsum(col("j"))
              / count(lit(1)) * lit(1000000.0)) / lit(1000000.0))
              .as("mean_jaccard"))
      }),

    // ---- n-gram Jaccard similarity join (inverted index) -------------------
    // Candidates from an inverted index over a *content-keyed sample* of
    // shingles (h(s) % 8 == 0, so both docs of a pair sample the same
    // shingles) with a doc-frequency cap — together they bound index size
    // and per-shingle fan-out, keeping the candidate set ~linear in corpus
    // size at 100 TB. Recall at J>=0.7 is effectively certain: such pairs
    // share dozens of shingles, so at least one sampled shingle w.h.p. —
    // and the sampling is mirrored in the oracle, so both engines see the
    // identical candidate set either way.
    QuerySpec(
      "q43_ngram_jaccard",
      Some(s"""WITH $shingledDuckCte,
        inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        samp AS (SELECT doc_id, s FROM inv WHERE s % 8 = 0),
        rare AS (SELECT s FROM samp GROUP BY s HAVING COUNT(*) <= 20),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM samp a JOIN samp b ON a.s = b.s AND a.doc_id < b.doc_id
          WHERE a.s IN (SELECT s FROM rare)),
        $pairsDuck,
        ${verifyDuck(0.7)}"""),
      (s, d) => {
        val sh = shingleSets(s, d)
        verifyJaccard(sh, ngramCandidates(sh), 0.7)
      }),

    // ---- embedding-cosine near-dup (label-blocked exact pass) --------------
    // Vectors are integer-quantized once (round(x*1000): exact long math,
    // order-independent, identical across engines — Portable.qvec*); cosine
    // is scale-invariant so the factor cancels. Pairs are blocked on the
    // label key — the unblocked scale path is the hyperplane-LSH variant in
    // Similarity. The quantized projection is cached: it is read once per
    // join side.
    QuerySpec(
      "q44_cosine_neardup",
      Some(s"""WITH e AS (SELECT vec_id, label,
            ${graft.functions.Portable.qvecDuck("embedding", 64)} AS qv
          FROM embeddings),
        en AS (SELECT vec_id, label, qv,
            ${graft.functions.Portable.qnsqDuck("qv", 64)} AS nsq FROM e)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
          ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", 64)} AS cosine
        FROM en a JOIN en b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", 64)} >= 0.4"""),
      (s, d) => {
        import graft.functions.Portable.{qvecSpark, qnsqSpark}
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            expr(qvecSpark("embedding")).as("qv"))
          .withColumn("nsq", expr(qnsqSpark("qv")))
          .cache()
        val a = e.select(col("vec_id").as("vec_a"), col("label"),
          col("qv").as("qv_a"), col("nsq").as("nsq_a"))
        val b = e.select(col("vec_id").as("vec_b"),
          col("label").as("label_b"),
          col("qv").as("qv_b"), col("nsq").as("nsq_b"))
        a.join(b, col("label") === col("label_b")
            && col("vec_a") < col("vec_b"))
          .withColumn("cosine", expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)"))
          .filter(col("cosine") >= 0.4)
          .select(col("vec_a"), col("vec_b"), col("label"), col("cosine"))
      }),

    // ---- containment near-dup (subset duplicates Jaccard misses) -----------
    // A short doc fully quoted inside a long one has LOW Jaccard
    // (union-normalized) but containment |A∩B| / min(|A|,|B|) ≈ 1 — the
    // dedup policy that catches quote-expansion and boilerplate-wrapped
    // copies. Candidates reuse the MinHash band buckets (same recall
    // contract as q41: a pair must collide on >= 1 band); the verify tail
    // drops q41's length prefilter (containment does NOT bound the length
    // ratio) and scores the fused sorted-merge intersection both ways.
    // Containment is an exact integer ratio — one int64->double divide.
    // Shape: identical to q41 (band self-join + shingle join); the only
    // delta is the verify predicate, so the 100 TB posture carries over.
    QuerySpec(
      "q153_containment",
      Some(s"""WITH ${minhashCteChain()},
          m AS (SELECT doc_a, doc_b,
              len(sh_a) AS la, len(sh_b) AS lb,
              ${interDuck("sh_a", "sh_b")} AS i
            FROM pairs)
        SELECT doc_a, doc_b, CAST(la AS BIGINT) AS la,
          CAST(lb AS BIGINT) AS lb, CAST(i AS BIGINT) AS i,
          CAST(i AS DOUBLE) / least(la, lb) AS containment,
          ${jaccardDuck("i", "la", "lb")} AS jaccard
        FROM m WHERE CAST(i AS DOUBLE) / least(la, lb) >= 0.9"""),
      (s, d) => {
        val sh = shingleSets(s, d)
        val a = sh.select(col("doc_id").as("doc_a"),
          col("shingles").as("sh_a"))
        val b = sh.select(col("doc_id").as("doc_b"),
          col("shingles").as("sh_b"))
        minhashCandidates(sh).join(a, "doc_a").join(b, "doc_b")
          .withColumn("la", size(col("sh_a")).cast("long"))
          .withColumn("lb", size(col("sh_b")).cast("long"))
          .withColumn("i",
            expr("sorted_intersect_count(sh_a, sh_b)").cast("long"))
          .withColumn("containment",
            col("i").cast("double") / least(col("la"), col("lb")))
          .filter(col("containment") >= 0.9)
          .select(col("doc_a"), col("doc_b"), col("la"), col("lb"), col("i"),
            col("containment"),
            expr(jaccardSpark("i", "la", "lb")).as("jaccard"))
      }),

    // ---- sorted-neighborhood dedup blocking ---------------------------------
    // The third classic blocking family next to LSH (q41) and exact
    // fingerprints (q40): sort the corpus by a blocking key (normalized
    // text prefix, doc_id tiebreak for a total order), slide a W-record
    // window over the sorted sequence, and emit every pair within the
    // window — O(W·n) candidates with guaranteed coverage of near-ties
    // that hash-based blocking can split. The global sort RANK is an
    // operators.BlockScan running count blocked on the 4-char key prefix (≤
    // |alphabet|^4 blocks, corpus-independent). Hot prefixes
    // (natural-language skew) widen individual blocks linearly with the
    // corpus; the fix at scale is a deeper prefix (the block key is a knob,
    // not a shape change). Pair generation is an EQUI-join: each record
    // explodes into W−1 (rank + offset) probes — fan-out bounded by W, no
    // range join, no BNL. Pair scoring (same source / same language /
    // exact-dup fingerprint) is row-local; output collapses to one audit row.
    QuerySpec(
      "q194_sorted_neighborhood",
      Some(s"""WITH k AS (SELECT doc_id, source, lang,
            md5(lower(text)) AS fp,
            substring(lower(text), 1, 24) AS key FROM documents),
        r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id)
            AS BIGINT) AS rk FROM k)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(COUNT(*) FILTER (WHERE a.source = b.source) AS BIGINT)
            AS n_same_source,
          CAST(COUNT(*) FILTER (WHERE a.lang = b.lang) AS BIGINT)
            AS n_same_lang,
          CAST(COUNT(*) FILTER (WHERE a.fp = b.fp) AS BIGINT)
            AS n_exact_dup,
          CAST(SUM(b.rk - a.rk) AS BIGINT) AS gap_sum
        FROM r a JOIN r b
          ON b.rk BETWEEN a.rk + 1 AND a.rk + ${SnWindow - 1}"""),
      (s, d) => {
        val k = t(s, d, "documents").select(col("doc_id"), col("source"),
            col("lang"), md5(lower(col("text"))).as("fp"),
            substring(lower(col("text")), 1, 24).as("key"))
          .cache() // the running sums read it twice, and `r` is used twice
        val r = BlockScan.runningSums(k, substring(col("key"), 1, 4),
            Seq(col("key"), col("doc_id")), Seq("rk" -> lit(1L)))
          .select(col("rk"), col("source"), col("lang"), col("fp"))
        val probes = r
          .withColumn("off",
            explode(lit((1 until SnWindow).toArray)))
          .select((col("rk") + col("off")).as("rk"), col("rk").as("rk_a"),
            col("source").as("src_a"), col("lang").as("lang_a"),
            col("fp").as("fp_a"))
        probes.join(r, "rk")
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("src_a") === col("source"), 1))
              .as("n_same_source"),
            count(when(col("lang_a") === col("lang"), 1)).as("n_same_lang"),
            count(when(col("fp_a") === col("fp"), 1)).as("n_exact_dup"),
            sum(col("rk") - col("rk_a")).cast("long").as("gap_sum"))
      }),

    // ---- near-dup cluster size distribution ---------------------------------
    // The dedup-impact report: how big are the duplicate families q48
    // finds? Power-of-two size buckets (the q187 bit-length idiom) over
    // the per-component member counts, PLUS the singleton mass (docs in
    // no component — always bucket 1, since every component has >= 2
    // members by construction). A heavy tail here means template farms
    // and drives the expected token savings of dedup; the histogram is
    // the number a curation run reports. Shape: q48's bounded-round
    // components, one component-grain aggregate, a bits-grain aggregate,
    // and two corpus COUNTs — nothing new crosses a global window.
    QuerySpec(
      "q210_cluster_size_dist",
      Some(s"""WITH RECURSIVE $minhashSymDuck,
          $reachRootsDuck,
          sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
            FROM roots GROUP BY 1),
          hist AS (SELECT CAST(length(to_base(sz, 2)) AS BIGINT) AS bits,
              CAST(COUNT(*) AS BIGINT) AS n_clusters,
              CAST(SUM(sz) AS BIGINT) AS n_docs,
              CAST(MIN(sz) AS BIGINT) AS min_size,
              CAST(MAX(sz) AS BIGINT) AS max_size
            FROM sizes GROUP BY 1),
          singles AS (SELECT
              (SELECT COUNT(*) FROM documents)
                - (SELECT COUNT(*) FROM roots) AS n1)
          SELECT * FROM hist
          UNION ALL
          SELECT CAST(1 AS BIGINT), CAST(n1 AS BIGINT), CAST(n1 AS BIGINT),
            CAST(1 AS BIGINT), CAST(1 AS BIGINT)
          FROM singles WHERE n1 > 0"""),
      (s, d) => {
        val comps = connectedComponents(minhashEdges(shingleSets(s, d)))
          .cache()
        val sizes = comps.groupBy(col("component"))
          .agg(count(lit(1)).as("sz"))
        val hist = sizes
          .groupBy(length(bin(col("sz"))).cast("long").as("bits"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("sz")).cast("long").as("n_docs"),
            min(col("sz")).cast("long").as("min_size"),
            max(col("sz")).cast("long").as("max_size"))
        // the singleton row stays plan-side (1-row aggregates, no driver
        // action): n1 = |documents| − |docs in any component|
        val totals = t(s, d, "documents").agg(count(lit(1)).as("nd"))
          .crossJoin(comps.agg(count(lit(1)).as("nc")))
        val singles = totals
          .select(lit(1L).as("bits"),
            (col("nd") - col("nc")).as("n_clusters"),
            (col("nd") - col("nc")).as("n_docs"),
            lit(1L).as("min_size"), lit(1L).as("max_size"))
          .filter(col("n_clusters") > 0)
        hist.unionByName(singles)
      }),

    // ---- longest shared span between document pairs -------------------------
    // The plagiarism/derivation detector a chunk-level join can't give
    // you: q49 tells you WHICH chunks repeat; this finds the longest RUN
    // of consecutive shared chunks between each doc pair — the
    // contiguous-span evidence that distinguishes quotation/derivation
    // from boilerplate coincidence. Matches sit on DIAGONALS of the
    // chunk-position matrix (pos_a − pos_b constant), so runs are
    // gap-islands (q119's trick) keyed on (pair, diagonal): island id =
    // pos_a − rank, all integer. Scale: pair generation joins on the
    // chunk fingerprint with a df cap of $SpanDfCap distinct docs per
    // fingerprint (the q43 inverted-index discipline — boilerplate
    // chunks above the cap carry no derivation signal and are dropped on
    // BOTH engines), so fan-out per chunk is bounded and candidates stay
    // linear in corpus chunks.
    QuerySpec(
      "q212_shared_span",
      Some(s"""WITH d AS (
          SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
        ch AS (SELECT doc_id, u.pos AS pos, u.fp AS fp FROM (
            SELECT doc_id, unnest(${chunkFpDuck("t", "10")}) AS u
            FROM d) z),
        keep AS (SELECT fp FROM (SELECT fp,
            COUNT(DISTINCT doc_id) AS ndoc FROM ch GROUP BY 1)
          WHERE ndoc <= $SpanDfCap),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            a.pos AS pa, b.pos AS pb
          FROM ch a JOIN keep USING (fp) JOIN ch b USING (fp)
          WHERE a.doc_id < b.doc_id),
        isl AS (SELECT doc_a, doc_b, pa - pb AS diag,
            pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
              ORDER BY pa) AS island
          FROM m),
        runs AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len
          FROM isl GROUP BY doc_a, doc_b, diag, island)
        SELECT doc_a, doc_b, MAX(run_len) AS max_run,
          CAST(COUNT(*) AS BIGINT) AS n_runs,
          CAST(SUM(run_len) AS BIGINT) AS shared_chunks
        FROM runs GROUP BY 1, 2 HAVING MAX(run_len) >= 2"""),
      (s, d) => {
        val ch = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), posexplode(expr(chunkFpSpark("t", "10")))
            .as(Seq("pos", "fp")))
          .cache() // feeds the df cap AND both pair sides
        val keep = ch.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("ndoc"))
          .filter(col("ndoc") <= SpanDfCap).select(col("fp"))
        val a = ch.join(keep, "fp").select(col("fp"),
          col("doc_id").as("doc_a"), col("pos").as("pa"))
        val b = ch.select(col("fp"), col("doc_id").as("doc_b"),
          col("pos").as("pb"))
        val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
          .orderBy(col("pa"))
        a.join(b, Seq("fp"))
          .filter(col("doc_a") < col("doc_b"))
          .withColumn("diag", col("pa") - col("pb"))
          .withColumn("island", col("pa") - row_number().over(w))
          .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
          .agg(count(lit(1)).as("run_len"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(max(col("run_len")).as("max_run"),
            count(lit(1)).as("n_runs"),
            sum(col("run_len")).cast("long").as("shared_chunks"))
          .filter(col("max_run") >= 2)
      }),

    // ---- winnowing fingerprint selection (MOSS) ----------------------------
    // The Schleimer-Wilkerson-Aiken winnowing scheme: hash every word
    // 3-gram, slide a window of w=4 consecutive hashes, and keep each
    // window's minimum (rightmost on ties). Guarantees: any shared run
    // of >= w+k-1 tokens yields a shared fingerprint, and expected
    // density is 2/(w+1) — a provable-recall sparsifier, unlike q33's
    // whole-doc hashes or q49's fixed-stride chunks.
    // The rightmost-argmin-of-some-window set is computed CLOSED-FORM:
    // p is selected iff for some split j in [0,w), h[p] is strictly
    // below the next j hashes and <= the previous w-1-j — four bounded
    // window-min frames over the (doc, pos) grain, no per-window
    // explode. 100 TB plan: windows partition by doc_id (bounded by doc
    // length); one exchange to the doc grain for the summary.
    QuerySpec(
      "q219_winnowing",
      Some(s"""WITH d AS (SELECT doc_id,
            ${toksDuck("text")} AS t
          FROM documents WHERE len(${toksDuck("text")}) >= 3),
        g AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (
            SELECT doc_id, unnest([{'pos': i,
                'h': ${h64Duck("array_to_string(t[(i+1):(i+3)], ' ')")}}
              for i in range(0, len(t) - 2)]) AS u
            FROM d) z),
        w AS (SELECT doc_id, pos, h,
            CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS L,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS f1,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS f2,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS f3,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS p1,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS p2,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS p3
          FROM g),
        sel AS (SELECT *,
            ((pos + 3 <= L - 1 AND h < f3) OR
             (pos >= 1 AND pos + 2 <= L - 1 AND h < f2 AND h <= p1) OR
             (pos >= 2 AND pos + 1 <= L - 1 AND h < f1 AND h <= p2) OR
             (pos >= 3 AND h <= p3)) AS keep
          FROM w)
        SELECT doc_id, CAST(MAX(L) AS BIGINT) AS n_kgrams,
          CAST(COUNT(*) FILTER (keep) AS BIGINT) AS n_fp,
          CAST(COALESCE(MIN(h) FILTER (keep), 0) AS BIGINT) AS fp_min,
          CAST(COALESCE(SUM(h % 1000000007) FILTER (keep), 0) AS BIGINT)
            AS fp_modsum
        FROM sel GROUP BY 1"""),
      (s, d) => {
        val g = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"),
            posexplode(expr(ngramsSpark("t", 3, h64Spark))).as(Seq("pos", "h")))
        val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        def fmin(a: Int, b: Int) = min(col("h")).over(wd.rowsBetween(a, b))
        val sel = g
          .withColumn("L",
            count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .withColumn("f1", fmin(1, 1)).withColumn("f2", fmin(1, 2))
          .withColumn("f3", fmin(1, 3)).withColumn("p1", fmin(-1, -1))
          .withColumn("p2", fmin(-2, -1)).withColumn("p3", fmin(-3, -1))
          .withColumn("keep",
            (col("pos") + 3 <= col("L") - 1 && col("h") < col("f3")) ||
            (col("pos") >= 1 && col("pos") + 2 <= col("L") - 1 &&
              col("h") < col("f2") && col("h") <= col("p1")) ||
            (col("pos") >= 2 && col("pos") + 1 <= col("L") - 1 &&
              col("h") < col("f1") && col("h") <= col("p2")) ||
            (col("pos") >= 3 && col("h") <= col("p3")))
        sel.groupBy(col("doc_id"))
          .agg(max(col("L")).cast("long").as("n_kgrams"),
            count(when(col("keep"), lit(1))).as("n_fp"),
            coalesce(min(when(col("keep"), col("h"))), lit(0L))
              .as("fp_min"),
            coalesce(sum(when(col("keep"), col("h") % 1000000007L)), lit(0L))
              .cast("long").as("fp_modsum"))
      }),

    // ---- corpus duplicated-substring mass (exact-substring dedup audit) ----
    // The Lee et al. 2022 ("Deduplicating Training Data Makes Language
    // Models Better") exact-substring view that SET-similarity sketches
    // (q41 MinHash / q42 SimHash) cannot see: how many of the corpus'
    // TOKENS sit inside an exact span that also occurs in another
    // document? Spans are q49's 10-token chunk fingerprints (the same
    // grain its keep-first cleaner deletes at); a chunk is duplicated iff
    // its md5 occurs in 2+ DISTINCT docs. Output is the corpus
    // duplication-mass curve — docs bucketed by duplicated-token
    // fraction (bin = (dup*10) div total, 0..10 with 10 = fully
    // duplicated) with per-bin doc counts and token masses — extending
    // q212's pair-level shared-span measure to the corpus aggregate a
    // dedup-policy decision actually needs ("removing 2+-doc spans
    // deletes X% of all tokens").
    // 100 TB plan: chunks shuffle on the md5 fingerprint twice (the
    // distinct-doc count agg, then the join back) — both keyed on a
    // derived key, partial-agg friendly, candidates exactly linear in
    // corpus tokens; the curve rollup is an 11-group agg. No self-join,
    // no window over the corpus.
    QuerySpec(
      "q332_dup_substring_mass",
      Some(s"""WITH dd AS (
          SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
        ch AS (SELECT doc_id, nt, u.fp AS fp, u.ln AS ln FROM (
            SELECT doc_id, len(t) AS nt,
              unnest(${chunkFpDuck("t", "10")}) AS u
            FROM dd) z),
        fpd AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd
          FROM ch GROUP BY 1),
        pd AS (SELECT doc_id, nt,
            CAST(SUM(CASE WHEN nd >= 2 THEN ln ELSE 0 END) AS BIGINT)
              AS dup
          FROM ch JOIN fpd USING (fp) GROUP BY 1, 2)
        SELECT (dup * 10) // nt AS bin,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dup) AS BIGINT) AS dup_tokens,
          CAST(SUM(nt) AS BIGINT) AS total_tokens
        FROM pd GROUP BY 1"""),
      (s, d) => {
        val ch = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), size(col("t")).cast("long").as("nt"),
            posexplode(expr(chunkFpSpark("t", "10", ln = true)))
              .as(Seq("pos", "c")))
          .select(col("doc_id"), col("nt"),
            col("c.fp").as("fp"), col("c.ln").as("ln"))
        val fpd = ch.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        val pd = ch.join(fpd, "fp")
          .groupBy(col("doc_id"), col("nt"))
          .agg(sum(when(col("nd") >= 2, col("ln")).otherwise(0L))
            .as("dup"))
        pd.groupBy(expr("(dup * 10) div nt").as("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("dup_tokens"),
            sum(col("nt")).as("total_tokens"))
      }),

    // ---- dedup threshold sweep (retention-curve policy audit) --------------
    // The decision a dedup policy owner actually faces: how many pairs
    // verify — and how many docs would a keep-first pass remove — at
    // EACH candidate Jaccard threshold? One pass over the q41 band
    // candidates computes the exact Jaccard once per pair (length
    // prefilter at the sweep floor 0.5 — lossless for every threshold
    // above it), then a 5-row threshold table fans out row-locally and
    // the rollup is 5 groups. n_removed counts docs matched by a
    // smaller-id doc at that threshold (direct-match keep-first; q48's
    // transitive closure is the stricter follow-on for the chosen
    // threshold). 100 TB plan: identical to q41's — band-bounded
    // candidates, one merge-scan intersect per surviving pair; the
    // threshold fan-out multiplies only the tiny verified stream.
    QuerySpec(
      "q336_threshold_sweep",
      Some(s"""WITH ${minhashCteChain()},
        sized AS (SELECT doc_a, doc_b, sh_a, sh_b,
            len(sh_a) AS la, len(sh_b) AS lb FROM pairs
          WHERE least(len(sh_a), len(sh_b))
            >= 0.5 * greatest(len(sh_a), len(sh_b))),
        inter AS (SELECT doc_a, doc_b, la, lb,
            ${interDuck("sh_a", "sh_b")} AS i FROM sized),
        jx AS (SELECT doc_a, doc_b,
            ${jaccardDuck("i", "la", "lb")} AS j FROM inter),
        th AS (SELECT unnest([50, 60, 70, 80, 90]) AS t)
        SELECT t AS threshold_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_removed
        FROM jx, th WHERE j >= CAST(t AS DOUBLE) / 100
        GROUP BY t"""),
      (s, d) => {
        val sh = shingleSets(s, d)
        val pr = minhashCandidates(sh)
          .join(sh.select(col("doc_id").as("doc_a"),
            col("shingles").as("sh_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"),
            col("shingles").as("sh_b")), "doc_b")
          .withColumn("la", size(col("sh_a")))
          .withColumn("lb", size(col("sh_b")))
          .filter(least(col("la"), col("lb"))
            >= lit(0.5) * greatest(col("la"), col("lb")))
          .withColumn("i", expr("sorted_intersect_count(sh_a, sh_b)"))
          .withColumn("j", expr(jaccardSpark("i", "la", "lb")))
        pr.select(col("doc_a"), col("doc_b"), col("j"),
            explode(lit(Array(50, 60, 70, 80, 90))).as("t"))
          .filter(col("j") >= col("t").cast("double") / 100)
          .groupBy(col("t").as("threshold_pct"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_b")).as("n_removed"))
      }),

    // ---- cross-language contamination (same content, multiple langs) -------
    // A split- and mixing-integrity audit the fp machinery makes cheap:
    // exact-content clusters (q40's normalized token-set fingerprint)
    // whose members carry MORE THAN ONE lang tag. Each such cluster is
    // either a mislabeled duplicate or genuinely language-ambiguous
    // content — both corrupt per-language mixing weights (q100) and
    // language-conditioned gates (q313's lang='en' proxy label trains on
    // them as contradictory evidence). Output: per lang, how many of its
    // docs sit in multi-lang clusters, how many clusters it touches, and
    // the first affected doc for triage. 100 TB plan: fp is row-local;
    // one (fp) partial-agg shuffle finds multi-lang clusters; the join
    // back is fp-keyed; the rollup is |langs| groups.
    QuerySpec(
      "q338_crosslang_contamination",
      Some(s"""WITH f AS (SELECT doc_id, lang, $textFpDuck AS fp
          FROM documents),
        ml AS (SELECT fp FROM f GROUP BY fp
          HAVING COUNT(DISTINCT lang) > 1)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT f.fp) AS BIGINT) AS n_clusters,
          MIN(doc_id) AS first_doc
        FROM f JOIN ml USING (fp) GROUP BY lang"""),
      (s, d) => {
        val f = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), textFp.as("fp"))
          .cache() // cluster detection + the join back
        val ml = f.groupBy(col("fp"))
          .agg(countDistinct(col("lang")).as("nl"))
          .filter(col("nl") > 1).select(col("fp"))
        f.join(ml, "fp")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_clusters"),
            min(col("doc_id")).as("first_doc"))
      }),

    // ---- LSH band-layout planning (S-curve vs the corpus profile) ----------
    // The design decision BEFORE any MinHash run at 100 TB: how to band
    // the 16 minhashes. A (b bands x r rows) layout accepts a pair of
    // true Jaccard s with P(s) = 1 - (1 - s^r)^b; which layout is right
    // depends on the CORPUS's similarity profile, not folklore. Two
    // measured strata feed the decision: a BACKGROUND stratum — exact
    // Jaccard over a systematic linear pair sample (doc_id offsets
    // {1,13,101,251}: no self-join blow-up, content-independent) — whose
    // expected acceptance rate is the verify-stage load a layout would
    // cost on typical pairs; and a SIMILAR stratum — the union of the
    // MinHash-band and inverted-index candidate generators, exact-
    // verified at J >= 0.8 — whose expected rejection rate is the miss
    // risk on the pairs dedup exists to find. Both ride a 1/20 Jaccard
    // histogram; each divisor layout of 16 is scored against both plus
    // its S-curve midpoint s50. Powers are EXPLICIT left-associated
    // multiply chains interpolated into both engines (each double
    // multiply is one correctly-rounded IEEE op on identical inputs —
    // pow()'s libm drift never enters); weighted sums ride the decimal
    // grid (Exact). 100 TB plan: one linear pass per stratum builds two
    // <=20-row histograms; everything after is constant-size math over
    // 1-row scalar frames.
    QuerySpec(
      "q346_lsh_band_planning", {
        val layoutCtes = BandLayouts.zipWithIndex.map { case ((bb, rr), i) =>
          val pB = pAccept("cast(bucket as double) / 20.0", bb, rr)
          val pG = pAccept("cast(k as double) / 100.0", bb, rr)
          s"""a$i AS (SELECT ${Exact.sqlDsum(s"n * $pB")} AS sbg
            FROM hist_bg),
          h$i AS (SELECT ${Exact.sqlDsum(s"n * (1.0 - $pB)")} AS shi
            FROM hist_hi),
          g$i AS (SELECT CAST(MIN(k) AS INT) AS s50_centi FROM grid
            WHERE $pG >= 0.5)"""
        }.mkString(",\n")
        val layoutRows = BandLayouts.zipWithIndex.map { case ((bb, rr), i) =>
          s"""SELECT CAST($bb AS INT) AS b, CAST($rr AS INT) AS r,
            s50_centi,
            CAST(floor(sbg / CAST(tnbg AS DOUBLE) * 1000000.0) AS BIGINT)
              AS accept_bg_ppm,
            CASE WHEN tnhi > 0 THEN CAST(floor(shi / CAST(tnhi AS DOUBLE)
              * 1000000.0) AS BIGINT) ELSE CAST(0 AS BIGINT) END
              AS fn_hi_ppm,
            tnhi AS n_hi_pairs
          FROM a$i, h$i, g$i, tbg, thi"""
        }.mkString("\nUNION ALL\n")
        Some(s"""WITH $shingledDuckCte,
          ${minhashBandCandDuck()},
          inv6 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          samp6 AS (SELECT doc_id, s FROM inv6 WHERE s % 8 = 0),
          rare6 AS (SELECT s FROM samp6 GROUP BY s HAVING COUNT(*) <= 20),
          cand6 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM samp6 a JOIN samp6 b ON a.s = b.s AND a.doc_id < b.doc_id
            WHERE a.s IN (SELECT s FROM rare6)),
          cu AS (SELECT doc_a, doc_b FROM cand
            UNION SELECT doc_a, doc_b FROM cand6),
          hi AS (SELECT least(19, CAST(floor(
              ${jaccardDuck("x.shingles", "y.shingles")}
              * 20) AS INT)) AS bucket
            FROM cu JOIN sh x ON x.doc_id = doc_a
                    JOIN sh y ON y.doc_id = doc_b
            WHERE ${jaccardDuck("x.shingles", "y.shingles")} >= 0.8),
          hist_hi AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
            FROM hi GROUP BY 1),
          po AS (SELECT a.shingles AS sh_a, b.shingles AS sh_b
            FROM sh a
            CROSS JOIN (SELECT unnest([${BandPlanOffsets.mkString(", ")}])
              AS off) o
            JOIN sh b ON b.doc_id = a.doc_id + o.off),
          jm AS (SELECT least(19, CAST(floor(
              ${jaccardDuck("sh_a", "sh_b")}
              * 20) AS INT)) AS bucket
            FROM po),
          hist_bg AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
            FROM jm GROUP BY 1),
          tbg AS (SELECT CAST(SUM(n) AS BIGINT) AS tnbg FROM hist_bg),
          thi AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS tnhi
            FROM hist_hi),
          grid AS (SELECT unnest(range(0, 101)) AS k),
          $layoutCtes
          $layoutRows""")
      },
      (s, d) => {
        // <=20 and <=4 rows (buckets 16..19); every layout's weighted sum
        // re-reads them. EAGER (not cache): the 5 layouts x 4 scalar
        // frames below are all broadcast builds, and 20 concurrent builds
        // racing an unmaterialized cache each re-execute the full stratum
        // pipeline (measured: q346 2.4 -> 8.2 s when an eager action
        // upstream shifted the race timing; eager-materializing both
        // histograms removes the race class entirely).
        val (bgHist, hiHist) = bandPlanHists(s, d)
        val histBg = bgHist.localCheckpoint(true)
        val histHi = hiHist.localCheckpoint(true)
        val tbg = histBg.agg(sum(col("n")).as("tnbg"))
        val thi = histHi.agg(coalesce(sum(col("n")), lit(0L)).as("tnhi"))
        BandLayouts.map { case (bb, rr) =>
          val pB = pAccept("cast(bucket as double) / 20.0", bb, rr)
          val pG = pAccept("cast(id as double) / 100.0", bb, rr)
          val accBg = histBg.agg(Exact.dsum(expr(s"n * $pB")).as("sbg"))
          val accHi = histHi
            .agg(Exact.dsum(expr(s"n * (1.0 - $pB)")).as("shi"))
          val s50 = s.range(0, 101)
            .agg(min(when(expr(pG) >= 0.5, col("id"))).cast("int")
              .as("s50_centi"))
          accBg.crossJoin(broadcast(accHi)) // 1-row scalar frames
            .crossJoin(broadcast(s50))
            .crossJoin(broadcast(tbg)).crossJoin(broadcast(thi))
            .select(lit(bb).as("b"), lit(rr).as("r"), col("s50_centi"),
              floor(col("sbg") / col("tnbg").cast("double")
                * lit(1000000.0)).cast("bigint").as("accept_bg_ppm"),
              when(col("tnhi") > 0,
                floor(col("shi") / col("tnhi").cast("double")
                  * lit(1000000.0)).cast("bigint")).otherwise(0L)
                .as("fn_hi_ppm"),
              col("tnhi").as("n_hi_pairs"))
        }.reduce(_ unionByName _)
      }),

    // ---- dedup family agreement (MinHash vs SimHash vs n-gram Jaccard) -----
    // Three near-dup families run at their production settings over the
    // same corpus — MinHash+LSH verified at J>=0.8 (q41), SimHash at
    // hamming<=3 (q42), sampled-inverted-index n-gram Jaccard at J>=0.7
    // (q43) — and their VERDICT sets compared pairwise: how many pairs
    // each family flags, how many both flag, and the pair-set overlap
    // (Jaccard, ppm). This is the audit that decides which family (or
    // which pair of families) a 100 TB pipeline actually runs: high
    // overlap means the cheaper family suffices; low overlap means they
    // see different duplicate classes and stack. All three candidate
    // generators are the shared linearity-guarded ones (ScaleSpec);
    // the comparison itself is three counts and three (doc_a, doc_b)
    // equi-joins over verdict sets that are tiny relative to the corpus.
    QuerySpec(
      "q348_dedup_family_agreement",
      Some(s"""WITH ${minhashCteChain()},
        ${verifyCteDuck(0.8)},
        v1 AS (SELECT doc_a, doc_b FROM verified),
        inv2 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        samp2 AS (SELECT doc_id, s FROM inv2 WHERE s % 8 = 0),
        rare2 AS (SELECT s FROM samp2 GROUP BY s HAVING COUNT(*) <= 20),
        cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM samp2 a JOIN samp2 b ON a.s = b.s AND a.doc_id < b.doc_id
          WHERE a.s IN (SELECT s FROM rare2)),
        pairs2 AS (SELECT doc_a, doc_b,
            x.shingles AS sh_a, y.shingles AS sh_b
          FROM cand2 JOIN sh x ON x.doc_id = doc_a
                     JOIN sh y ON y.doc_id = doc_b),
        v2 AS (SELECT doc_a, doc_b FROM (
            SELECT doc_a, doc_b, len(sh_a) AS la, len(sh_b) AS lb,
              ${interDuck("sh_a", "sh_b")} AS i
            FROM pairs2
            WHERE least(len(sh_a), len(sh_b))
              >= 0.7 * greatest(len(sh_a), len(sh_b))) z
          WHERE ${jaccardDuck("i", "la", "lb")} >= 0.7),
        ths3 AS (SELECT doc_id, [${h64Duck("t")} for t in toks] AS ths
          FROM docs),
        sim3 AS (SELECT doc_id,
            list_sum([CASE WHEN list_sum([CASE WHEN (h >> i) & 1 = 1
                  THEN 1 ELSE -1 END for h in ths]) >= 0
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
              for i in range(0, 60)]) AS sig
          FROM ths3),
        ${duckBandCandidates("sim3", 4, 15, sfx = "3")},
        v3 AS (SELECT doc_a, doc_b
          FROM cand3 JOIN sim3 x ON x.doc_id = doc_a
                     JOIN sim3 y ON y.doc_id = doc_b
          WHERE bit_count(xor(x.sig, y.sig)) <= 3),
        c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM v1),
        c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM v2),
        c3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM v3),
        i12 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
          FROM v1 JOIN v2 USING (doc_a, doc_b)),
        i13 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
          FROM v1 JOIN v3 USING (doc_a, doc_b)),
        i23 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
          FROM v2 JOIN v3 USING (doc_a, doc_b))
        SELECT 'minhash' AS fam_a, 'ngram' AS fam_b, a.c AS n_a, b.c AS n_b,
          i.c AS n_both,
          CASE WHEN a.c + b.c - i.c > 0
            THEN CAST(i.c * 1000000 // (a.c + b.c - i.c) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS overlap_ppm
        FROM c1 a, c2 b, i12 i
        UNION ALL
        SELECT 'minhash' AS fam_a, 'simhash' AS fam_b, a.c, b.c, i.c,
          CASE WHEN a.c + b.c - i.c > 0
            THEN CAST(i.c * 1000000 // (a.c + b.c - i.c) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END
        FROM c1 a, c3 b, i13 i
        UNION ALL
        SELECT 'ngram' AS fam_a, 'simhash' AS fam_b, a.c, b.c, i.c,
          CASE WHEN a.c + b.c - i.c > 0
            THEN CAST(i.c * 1000000 // (a.c + b.c - i.c) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END
        FROM c2 a, c3 b, i23 i"""),
      (s, d) => {
        val sh = shingleSets(s, d)
        val mh = minhashEdges(sh).select(col("doc_a"), col("doc_b")).cache()
        val ng = verifyJaccard(sh, ngramCandidates(sh), 0.7)
          .select(col("doc_a"), col("doc_b")).cache()
        val sim = simhashSignatures(s, d).cache()
        val xa = sim.select(col("doc_id").as("doc_a"), col("sig").as("sa"))
        val xb = sim.select(col("doc_id").as("doc_b"), col("sig").as("sb"))
        val sv = simhashCandidates(sim)
          .join(xa, "doc_a").join(xb, "doc_b")
          .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
          .select(col("doc_a"), col("doc_b")).cache()
        // ONE materialization action fills all three verdict-set caches
        // before the nine 1-row scalar counts below (all broadcast
        // builds) read them: a union's children each execute exactly
        // once and CONCURRENTLY, so this keeps the three pipelines
        // overlapped while removing the broadcast-build cache race that
        // otherwise re-runs each family's candidate+verify pipeline
        // several times (the q346/q397 race class; eager per-frame
        // checkpoints were measured SLOWER here — they serialize three
        // pipelines a union overlaps).
        mh.unionByName(ng).unionByName(sv).count()
        def cnt(df: DataFrame, nm: String): DataFrame =
          df.agg(count(lit(1)).as(nm))
        def rowOf(fa: String, da: DataFrame,
            fb: String, db: DataFrame): DataFrame =
          cnt(da, "n_a").crossJoin(broadcast(cnt(db, "n_b")))
            .crossJoin(broadcast(da.join(db, Seq("doc_a", "doc_b"))
              .agg(count(lit(1)).as("n_both")))) // 1-row scalar counts
            .select(lit(fa).as("fam_a"), lit(fb).as("fam_b"),
              col("n_a"), col("n_b"), col("n_both"),
              when(col("n_a") + col("n_b") - col("n_both") > 0,
                expr("n_both * 1000000 div (n_a + n_b - n_both)"))
                .otherwise(0L).as("overlap_ppm"))
        rowOf("minhash", mh, "ngram", ng)
          .unionByName(rowOf("minhash", mh, "simhash", sv))
          .unionByName(rowOf("ngram", ng, "simhash", sv))
      }),

    // ---- dedup grain ladder (raw / bag / set fingerprints) -----------------
    // The exact-dedup design space in one audit: the SAME corpus
    // fingerprinted at three grains — raw bytes (md5 of the text as-is),
    // token BAG (lowercased, sorted, multiplicity kept: catches
    // reordered copies), and token SET (q40's grain: additionally
    // collapses repetition) — and, per grain, how many duplicate
    // clusters exist and how many docs a dedup pass at that grain would
    // drop. Redundancy is monotone up the ladder (every raw dup is a bag
    // dup is a set dup), so the DELTAS are the yield each relaxation
    // buys — the evidence for choosing a normalization level before
    // running exact dedup at 100 TB. Shape: three row-local fingerprints
    // exploded into one (grain, fp) stream, ONE partial-agg shuffle on
    // that composite key, then a 3-group rollup.
    QuerySpec(
      "q349_dedup_grain_ladder",
      Some(s"""WITH g AS (SELECT doc_id, u.grain AS grain, u.fp AS fp FROM (
          SELECT doc_id, unnest([
            {'grain': '1_raw', 'fp': md5(text)},
            {'grain': '2_bag', 'fp': md5(array_to_string(
              list_sort(${toksDuck("text")}), ' '))},
            {'grain': '3_set', 'fp': $textFpDuck}]) AS u
          FROM documents) z),
        cl AS (SELECT grain, fp, COUNT(*) AS n FROM g GROUP BY 1, 2)
        SELECT grain,
          CAST(COUNT(CASE WHEN n >= 2 THEN 1 END) AS BIGINT)
            AS n_dup_clusters,
          CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT)
            AS n_dup_docs,
          CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n - 1 END), 0) AS BIGINT)
            AS n_redundant
        FROM cl GROUP BY 1"""),
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"), explode(map(
            lit("1_raw"), md5(col("text")),
            lit("2_bag"), md5(array_join(
              array_sort(expr(toksSpark("text"))), " ")),
            lit("3_set"), textFp)).as(Seq("grain", "fp")))
          .groupBy(col("grain"), col("fp"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("grain"))
          .agg(count(when(col("n") >= 2, 1)).as("n_dup_clusters"),
            coalesce(sum(when(col("n") >= 2, col("n"))), lit(0L))
              .as("n_dup_docs"),
            coalesce(sum(when(col("n") >= 2, col("n") - 1)), lit(0L))
              .as("n_redundant"))),

    // ---- cluster-capped sampling (keep-N per near-dup cluster) -------------
    // The curation policy between "drop all dups" (q98/q41 keep-first)
    // and "keep everything": keep at most N = 2 members per near-dup
    // cluster (the smallest doc_ids — deterministic), so frequent
    // boilerplate survives at bounded multiplicity instead of zero or
    // full weight. Reported per cluster-size bucket: clusters, docs,
    // kept, dropped — the dedup-budget sheet a data mix reads. Docs
    // with no near-dup edge are their own cluster (all kept; the
    // singleton row is the anti-join count). Shape: q48's component
    // machinery verbatim (bounded star rounds), then a per-component
    // rank window and two bounded-grain rollups.
    // Oracle components via the bounded min-label chain (round-11 verdict
    // #8: the recursive closure was O(Σ component_size²) — fixture-safe
    // but a latent blowup if a fixture ever grew a large cluster; the
    // 12-round unrolled propagation is O(12 * |E|) and exact for any
    // diameter <= 12, far past a 0.8-Jaccard near-dup chain's reach).
    QuerySpec(
      "q370_cluster_cap_sample",
      Some(s"""WITH $minhashSymDuck,
          ${minLabelRootsDuck(12)},
          ranked AS (SELECT doc_id, component,
              row_number() OVER (PARTITION BY component
                ORDER BY doc_id) AS rk
            FROM roots),
          clus AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
              CAST(SUM(CASE WHEN rk <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS kept
            FROM ranked GROUP BY 1),
          buck AS (SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_clusters,
              CAST(SUM(n_members) AS BIGINT) AS n_docs,
              CAST(SUM(kept) AS BIGINT) AS n_kept
            FROM clus GROUP BY 1),
          single AS (SELECT CAST(1 AS BIGINT) AS n_members,
              CAST(COUNT(*) AS BIGINT) AS n_clusters,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM roots))
          SELECT n_members, n_clusters, n_docs, n_kept,
            n_docs - n_kept AS n_dropped
          FROM (SELECT * FROM buck UNION ALL SELECT * FROM single) u"""),
      (s, d) => {
        val roots = connectedComponents(minhashEdges(shingleSets(s, d)))
        val ranked = roots.withColumn("rk", row_number().over(
          Window.partitionBy(col("component")).orderBy(col("doc_id"))))
        val buck = ranked.groupBy(col("component"))
          .agg(count(lit(1)).as("n_members"),
            sum(when(col("rk") <= 2, 1L).otherwise(0L)).as("kept"))
          .groupBy(col("n_members"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("n_members")).as("n_docs"),
            sum(col("kept")).as("n_kept"))
        val single = t(s, d, "documents").select(col("doc_id"))
          .join(roots.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n"))
          .select(lit(1L).as("n_members"), col("n").as("n_clusters"),
            col("n").as("n_docs"), col("n").as("n_kept"))
        buck.unionByName(single)
          .select(col("n_members"), col("n_clusters"), col("n_docs"),
            col("n_kept"), (col("n_docs") - col("n_kept")).as("n_dropped"))
      }),

    // ---- cross-source copy matrix ("who copies whom") ----------------------
    // Governance readout over the verified near-dup pairs: each
    // J >= 0.8 pair attributed to its (source, source) cell — the
    // unordered matrix that tells a corpus owner which feeds
    // syndicate each other's content (off-diagonal) vs self-duplicate
    // (diagonal). Shape: the verified-pair frame (band-bounded, q41's
    // machinery) joins the doc->source map twice on the doc key, then
    // one bounded |sources|² rollup.
    QuerySpec(
      "q371_copy_matrix",
      Some(s"""WITH ${minhashCteChain()},
          ${verifyCteDuck(0.8)},
          sp AS (SELECT least(da.source, db.source) AS source_a,
              greatest(da.source, db.source) AS source_b
            FROM verified v
            JOIN documents da ON da.doc_id = v.doc_a
            JOIN documents db ON db.doc_id = v.doc_b)
          SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            (source_a = source_b) AS within_source
          FROM sp GROUP BY 1, 2"""),
      (s, d) => {
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        minhashEdges(shingleSets(s, d))
          .select(col("doc_a"), col("doc_b"))
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("src_a")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("src_b")), "doc_b")
          .select(least(col("src_a"), col("src_b")).as("source_a"),
            greatest(col("src_a"), col("src_b")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("within_source", col("source_a") === col("source_b"))
      }),

    // ---- exact similarity join via prefix filtering (AllPairs/PPJoin) -----
    // The LOSSLESS member of the near-dup family: every pair with n-gram
    // Jaccard >= 0.7 is found, guaranteed — no MinHash band-miss (q41), no
    // sampled-index recall loss (q43), no SimHash radius bound (q42). The
    // algorithm is the prefix-filter similarity join (Chaudhuri et al.
    // 2006; Bayardo et al. 2007 "Scaling Up All Pairs"): under a global
    // rarest-first shingle order, only each doc's first
    // |S| - ceil(0.7*|S|) + 1 shingles are inverted, and the completeness
    // theorem (see prefixCandidates) proves no qualifying pair is lost.
    // Output = the same (doc_a, doc_b, jaccard) surface as q43, so the two
    // candidate policies are directly comparable: q373 is the exactness
    // ceiling the heuristics are audited against. Determinism: shingles
    // are the shared 60-bit portable hashes; the global order is (df, s)
    // with the hash as total tiebreak; jaccard divides two exact int64s.
    // 100 TB plan: one shingle-grain df agg, one keyed (df join + per-doc
    // sort — per-doc arrays, row-local), one prefix-inverted self-join
    // whose fan-out is bounded by prefix-shingle co-occurrence (rarest
    // shingles by construction), then the q43 verify tail (length
    // prefilter + native sorted_intersect_count merge scan). No corpus
    // broadcast, no window, no all-pairs.
    QuerySpec(
      "q373_prefix_filter_join",
      Some(s"""WITH $shingledDuckCte,
        inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        dfc AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df
          FROM inv GROUP BY 1),
        ord AS (SELECT doc_id, list(s ORDER BY df, s) AS ordered,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM inv JOIN dfc USING (s) GROUP BY 1),
        pre AS (SELECT doc_id, unnest(list_slice(ordered, 1,
            CAST(n - (($PfNum * n + ${PfDen - 1}) // $PfDen) + 1
              AS BIGINT))) AS s
          FROM ord),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id),
        $pairsDuck,
        ${verifyDuck(0.7)}"""),
      (s, d) => {
        val sh = shingleSets(s, d)
        verifyJaccard(sh, prefixCandidates(sh), 0.7)
      }),

    // ---- duplicated-substring mass vs chunk size (the Lee et al. curve) ----
    // q332 measures exact-substring duplication mass at ONE grain (10
    // tokens); the policy question is the CURVE — Lee et al. 2022 fig. 2
    // shape: how does the duplicated-token fraction fall as the match
    // length k grows? Short spans catch boilerplate phrases; long spans
    // only true copies. One pass computes k ∈ {10, 20, 40} together:
    // the chunk explode emits all three grains tagged with k (q349's
    // ladder discipline), so the fingerprint aggregation is ONE shuffle
    // on the composite (k, fp) key — not three jobs over the corpus.
    // Output is q332's duplication-mass histogram per grain: (k, bin)
    // rows with doc counts and token masses. 100 TB plan: identical to
    // q332 with 3x the chunk rows — (k,fp)-keyed partial aggs, the join
    // back on the same key, an 33-group rollup; no self-join, no window.
    QuerySpec(
      "q379_dup_mass_curve",
      Some(s"""WITH dd AS (
          SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
        kk AS (SELECT unnest([10, 20, 40]) AS k),
        ch AS (SELECT doc_id, k, nt, u.fp AS fp, u.ln AS ln FROM (
            SELECT doc_id, k, len(t) AS nt,
              unnest(${chunkFpDuck("t", "k")}) AS u
            FROM dd, kk) z),
        fpd AS (SELECT k, fp, COUNT(DISTINCT doc_id) AS nd
          FROM ch GROUP BY 1, 2),
        pd AS (SELECT ch.k, doc_id, nt,
            CAST(SUM(CASE WHEN nd >= 2 THEN ln ELSE 0 END) AS BIGINT)
              AS dup
          FROM ch JOIN fpd ON fpd.k = ch.k AND fpd.fp = ch.fp
          GROUP BY 1, 2, 3)
        SELECT k, (dup * 10) // nt AS bin,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dup) AS BIGINT) AS dup_tokens,
          CAST(SUM(nt) AS BIGINT) AS total_tokens
        FROM pd GROUP BY 1, 2"""),
      (s, d) => {
        val ch = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), size(col("t")).cast("long").as("nt"),
            explode(expr("flatten(transform(array(10, 20, 40), k -> " +
              chunkFpSpark("t", "k", ln = true, lead = Seq("k AS k")) + "))"))
              .as("c"))
          .select(col("doc_id"), col("nt"), col("c.k").as("k"),
            col("c.fp").as("fp"), col("c.ln").as("ln"))
          .cache() // one scan+explode feeds the df agg AND the join back
        val fpd = ch.groupBy(col("k"), col("fp"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        val pd = ch.join(fpd, Seq("k", "fp"))
          .groupBy(col("k"), col("doc_id"), col("nt"))
          .agg(sum(when(col("nd") >= 2, col("ln")).otherwise(0L))
            .as("dup"))
        pd.groupBy(col("k"), expr("(dup * 10) div nt").as("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("dup_tokens"),
            sum(col("nt")).as("total_tokens"))
      }),

    // ---- the dedup LADDER capstone (FineWeb/RefinedWeb stage order) --------
    // Stage survivor chains live in [[ladderS1]]/[[ladderS2]]/[[ladderSh3]]/
    // [[ladderS3]]/[[ladderCells4]] (file-level, probe-shared) so the
    // ScaleProbe candidate rows measure EXACTLY the query's stages.
    // Composes the four dedup families END-TO-END, each stage seeing only
    // the previous stage's survivors — the Penedo et al. pipeline order:
    //   1 exact    (q40):  drop any doc whose normalized fingerprint has a
    //                      lower-id twin;
    //   2 chunk    (q49):  drop docs where duplicated 10-token chunks are
    //                      the majority (n_kept * 2 < n_chunks, the C4
    //                      keep-first rank over stage-1 survivors);
    //   3 minhash  (q41):  drop docs with a verified (J >= 0.8) lower-id
    //                      near-dup among stage-2 survivors;
    //   4 semantic (q98):  drop docs whose embedding has a lower-id
    //                      same-cell cosine >= threshold among stage-3
    //                      survivors (docs without an embedding pass);
    //                      the cell grain is ADAPTIVE to the survivor
    //                      count (floored at q98's 4-plane space — see
    //                      [[ladderCells4]]; round-13 probe fix).
    // Removal rule everywhere is "has a LOWER-ID match in the stage input"
    // — q98/q353's one-join discipline (no iterative keep-set: that is
    // q48/q128's component job). Output: one row per stage with the
    // removal mass and a survivor-manifest fingerprint (count + id sum +
    // Knuth-mix sum pin the surviving SET, not just its size).
    // 100 TB plan: every stage keeps its standalone plan's shape — exact
    // is one shuffle on the fingerprint; chunk is chunk-fp window + doc
    // agg; minhash is band-bounded candidates + verify; semantic is
    // cell-bounded; survivor handoffs are doc_id semi/anti joins; the
    // final stage ladder is a 5-row aggregate (the lag window is over 5
    // rows, not data).
    QuerySpec(
      "q382_dedup_ladder", {
        val mix = "(doc_id * 2654435761) % 4294967296"
        Some(s"""WITH s1fp AS (SELECT doc_id, $textFpDuck AS fpn
            FROM documents),
          s1 AS (SELECT doc_id FROM (SELECT doc_id,
              MIN(doc_id) OVER (PARTITION BY fpn) AS rep FROM s1fp) z
            WHERE doc_id = rep),
          d2 AS (SELECT d.doc_id, ${toksDuck("d.text")} AS t
            FROM documents d JOIN s1 ON s1.doc_id = d.doc_id),
          prof AS (${chunkProfileDuck("d2")}),
          s2 AS (SELECT doc_id FROM prof WHERE n_kept * 2 >= n_chunks),
          docs AS (SELECT d.doc_id, ${toksDuck("d.text")} AS toks
            FROM documents d JOIN s2 ON s2.doc_id = d.doc_id),
          sh AS (SELECT doc_id, $shinglesDuck AS shingles
            FROM docs WHERE len(toks) >= 3),
          ${minhashBandCandDuck()},
          $pairsDuck,
          ${verifyCteDuck(0.8)},
          s3 AS (SELECT s2.doc_id FROM s2 WHERE NOT EXISTS (
              SELECT 1 FROM verified v WHERE v.doc_b = s2.doc_id)),
          ${Similarity.duckQuantCte},
          s3e AS (SELECT e.vec_id, e.qv, e.nsq
            FROM en e JOIN s3 ON s3.doc_id = e.vec_id),
          ${Similarity.duckAdaptiveCellsFrom("s3e", "g4", minK = 4)},
          rm4 AS (SELECT DISTINCT b.vec_id AS doc_id
            FROM g4cells a JOIN g4cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq",
              Similarity.Dims)} >= ${Similarity.SemThreshold}),
          s4 AS (SELECT s3.doc_id FROM s3 WHERE NOT EXISTS (
              SELECT 1 FROM rm4 WHERE rm4.doc_id = s3.doc_id)),
          st AS (
            SELECT 0 AS stage, doc_id FROM documents
            UNION ALL SELECT 1, doc_id FROM s1
            UNION ALL SELECT 2, doc_id FROM s2
            UNION ALL SELECT 3, doc_id FROM s3
            UNION ALL SELECT 4, doc_id FROM s4),
          ag AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_out,
              CAST(SUM(doc_id) AS BIGINT) AS survivor_id_sum,
              CAST(SUM($mix) AS BIGINT) AS survivor_id_mix
            FROM st GROUP BY stage),
          fin AS (SELECT stage, lag(n_out) OVER (ORDER BY stage) AS n_in,
              n_out, survivor_id_sum, survivor_id_mix FROM ag)
          SELECT stage,
            ['exact', 'chunk', 'minhash', 'semantic'][stage] AS stage_name,
            n_in, n_in - n_out AS n_removed, n_out,
            survivor_id_sum, survivor_id_mix
          FROM fin WHERE stage >= 1""")
      },
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        // stages 1-4 — the file-level ladder chains (probe-shared):
        // exact fingerprint, chunk keep-first, banded minhash + verify,
        // cell-bounded semantic
        val s1 = ladderS1(s, d)
        val s2 = ladderS2(s, d)
        val sh3 = ladderSh3(s, d)
        val s3 = ladderS3(s, d, sh3)
        val c4 = ladderCells4(s, d, s3)
        val rm4 = ladderPairs4(c4)
          .filter(expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)")
            >= Similarity.SemThreshold)
          .select(col("vec_id").as("doc_id")).distinct()
        val s4 = s3.join(rm4, Seq("doc_id"), "left_anti")
        // stage ladder: tag + aggregate + 5-row lag (window over 5 rows)
        val tagged = docs.select(col("doc_id")).withColumn("stage", lit(0))
          .unionByName(s1.withColumn("stage", lit(1)))
          .unionByName(s2.withColumn("stage", lit(2)))
          .unionByName(s3.withColumn("stage", lit(3)))
          .unionByName(s4.withColumn("stage", lit(4)))
        tagged.groupBy(col("stage"))
          .agg(count(lit(1)).as("n_out"),
            sum(col("doc_id")).as("survivor_id_sum"),
            sum(expr("(doc_id * 2654435761L) % 4294967296L"))
              .as("survivor_id_mix"))
          .withColumn("n_in",
            lag(col("n_out"), 1).over(Window.orderBy(col("stage"))))
          .filter(col("stage") >= 1)
          .select(col("stage"),
            element_at(array(lit("exact"), lit("chunk"), lit("minhash"),
              lit("semantic")), col("stage")).as("stage_name"),
            col("n_in"), (col("n_in") - col("n_out")).as("n_removed"),
            col("n_out"), col("survivor_id_sum"), col("survivor_id_mix"))
      }),

    // ---- incremental ladder triage (new batch vs corpus, all 4 gates) ------
    // q382's ladder in its PRODUCTION (daily-crawl) form — the q58/q324/
    // q354 incremental convention composed: every incoming doc
    // (doc_id >= 250) is screened against the CORPUS index (doc_id <
    // 250) by all four dedup gates INDEPENDENTLY — exact fingerprint,
    // majority-known chunks, verified MinHash near-dup, same-cell
    // semantic match — and the output is the per-doc triage row a
    // curation operator actually reads: which gates fired, the first
    // (cheapest) gate that would have rejected it, and the admission
    // verdict. Unlike q382 (one-shot, survivor-fed), gates here are all
    // evaluated vs the corpus so the flags are attributable per gate.
    // 100 TB plan: each gate probes the corpus through a narrow
    // pre-buildable index key (fp hash join, chunk-fp join, band join
    // probe-filtered to the batch, cell join) — old x old pairs never
    // materialize and per-day work scales with the batch, not the
    // corpus. Docs without an embedding pass gate 4 (same as q354).
    QuerySpec(
      "q383_ladder_triage", {
        Some(s"""WITH newd AS (SELECT doc_id, text FROM documents
              WHERE doc_id >= 250),
          oldd AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
          fpn AS (SELECT doc_id, $textFpDuck AS fpv FROM newd),
          fpo AS (SELECT DISTINCT $textFpDuck AS fpv FROM oldd),
          g1 AS (SELECT doc_id FROM fpn
            WHERE EXISTS (SELECT 1 FROM fpo WHERE fpo.fpv = fpn.fpv)),
          tn AS (SELECT doc_id, ${toksDuck("text")} AS t
            FROM newd),
          to2 AS (SELECT doc_id, ${toksDuck("text")} AS t
            FROM oldd),
          cn2 AS (SELECT doc_id, u.fp AS cfp FROM (
              SELECT doc_id, unnest(${chunkFpDuck("t", "10")}) AS u
              FROM tn) z),
          co2 AS (SELECT DISTINCT u.fp AS cfp FROM (
              SELECT unnest(${chunkFpDuck("t", "10")}) AS u FROM to2) z),
          g2 AS (SELECT doc_id FROM (
              SELECT cn2.doc_id, COUNT(*) AS n_chunks,
                CAST(SUM(CASE WHEN co2.cfp IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
              FROM cn2 LEFT JOIN co2 ON co2.cfp = cn2.cfp
              GROUP BY 1) z
            WHERE n_hit * 2 > n_chunks),
          ${minhashCteChain("WHERE b.doc_id >= 250 AND a.doc_id < 250")},
          ${verifyCteDuck(0.8)},
          g3 AS (SELECT DISTINCT doc_b AS doc_id FROM verified),
          ${Similarity.duckCells4Cte},
          g4 AS (SELECT DISTINCT n.vec_id AS doc_id
            FROM cells n JOIN cells o
              ON o.cell = n.cell AND o.vec_id < 250 AND n.vec_id >= 250
            WHERE ${qcosDuck("n.qv", "o.qv", "n.nsq", "o.nsq",
              Similarity.Dims)} >= ${Similarity.SemThreshold}),
          sel AS (SELECT newd.doc_id,
              EXISTS (SELECT 1 FROM g1 WHERE g1.doc_id = newd.doc_id)
                AS exact_dup,
              EXISTS (SELECT 1 FROM g2 WHERE g2.doc_id = newd.doc_id)
                AS chunk_dup,
              EXISTS (SELECT 1 FROM g3 WHERE g3.doc_id = newd.doc_id)
                AS near_dup,
              EXISTS (SELECT 1 FROM g4 WHERE g4.doc_id = newd.doc_id)
                AS sem_dup
            FROM newd)
          SELECT doc_id, exact_dup, chunk_dup, near_dup, sem_dup,
            CAST(CASE WHEN exact_dup THEN 1 WHEN chunk_dup THEN 2
              WHEN near_dup THEN 3 WHEN sem_dup THEN 4 ELSE 0 END AS INT)
              AS first_reject,
            (NOT exact_dup AND NOT chunk_dup AND NOT near_dup
              AND NOT sem_dup) AS admitted
          FROM sel""")
      },
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val newDocs = docs.filter(col("doc_id") >= 250)
        val oldDocs = docs.filter(col("doc_id") < 250)
        // gate 1 — exact fingerprint membership (q40's key, q58's gate)
        def fpOf(df: DataFrame) = df.select(col("doc_id"), textFp.as("fpv"))
        val g1 = fpOf(newDocs)
          .join(fpOf(oldDocs).select(col("fpv")).distinct(), Seq("fpv"),
            "left_semi")
          .select(col("doc_id")).withColumn("exact_dup", lit(true))
        // gate 2 — majority of chunks already known to the corpus (q49's
        // grain, corpus-membership form)
        def chunksOf(df: DataFrame) = df
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), explode(expr(chunkFpSpark("t", "10")))
            .as("cfp"))
        val corpusChunks = chunksOf(oldDocs).select(col("cfp")).distinct()
          .withColumn("hit", lit(1L))
        val g2 = chunksOf(newDocs)
          .join(corpusChunks, Seq("cfp"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
          .filter(col("n_hit") * 2 > col("n_chunks"))
          .select(col("doc_id")).withColumn("chunk_dup", lit(true))
        // gate 3 — verified MinHash near-dup vs corpus (q324, corpus-only
        // match side)
        val sh = shingleSets(s, d)
        val g3 = verifyJaccard(sh,
            minhashCandidates(sh, 250L).filter(col("doc_a") < 250), 0.8)
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("near_dup", lit(true))
        // gate 4 — same-cell semantic match vs corpus (q354's condition)
        val c4 = Similarity.quantCell4(
            t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
          .cache()
        val g4 = c4.filter(col("vec_id") >= 250)
          .select(col("vec_id"), col("cell"),
            col("qv").as("qv_n"), col("nsq").as("nsq_n"))
          .join(c4.filter(col("vec_id") < 250)
            .select(col("cell").as("cell_o"),
              col("qv").as("qv_o"), col("nsq").as("nsq_o")),
            col("cell") === col("cell_o"))
          .filter(expr("qcosine(qv_n, qv_o, nsq_n, nsq_o)")
            >= Similarity.SemThreshold)
          .select(col("vec_id").as("doc_id")).distinct()
          .withColumn("sem_dup", lit(true))
        newDocs.select(col("doc_id"))
          .join(g1, Seq("doc_id"), "left")
          .join(g2, Seq("doc_id"), "left")
          .join(g3, Seq("doc_id"), "left")
          .join(g4, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
            coalesce(col("chunk_dup"), lit(false)).as("chunk_dup"),
            coalesce(col("near_dup"), lit(false)).as("near_dup"),
            coalesce(col("sem_dup"), lit(false)).as("sem_dup"))
          .withColumn("first_reject", expr(
            """CASE WHEN exact_dup THEN 1 WHEN chunk_dup THEN 2
               WHEN near_dup THEN 3 WHEN sem_dup THEN 4
               ELSE 0 END""").cast("int"))
          .withColumn("admitted", col("first_reject") === 0)
      }),

    // ---- longest duplicated span per doc (boilerplate run detector) --------
    // The SPAN grain q49 (per-chunk keep/drop) and q379 (corpus dup-mass
    // curve) don't expose: for each doc, the longest CONSECUTIVE run of
    // chunks whose content already appeared earlier in the corpus — the
    // Lee et al. boilerplate signature (a doc with a long contiguous
    // duplicated span embeds a copied block; scattered dup chunks are
    // phrase reuse). Keep-first rank marks dup chunks (q49's window);
    // runs form by gaps-and-islands on the chunk position (pos − seq is
    // constant within a consecutive run). 100 TB plan: one shuffle on
    // the chunk fp (the rank), one on doc_id (the per-doc windows +
    // aggs, both partitioned by doc) — no self-join, chunk rows linear
    // in corpus tokens.
    QuerySpec(
      "q384_longest_dup_span",
      Some(s"""WITH d AS (
          SELECT doc_id, ${toksDuck("text")} AS t FROM documents),
        ch AS (SELECT doc_id, u.pos AS pos, u.fp AS fp FROM (
            SELECT doc_id, unnest(${chunkFpDuck("t", "10")}) AS u
            FROM d) z),
        rk AS (SELECT doc_id, pos,
            row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) > 1
              AS is_dup
          FROM ch),
        isl AS (SELECT doc_id, pos,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
              AS grp
          FROM rk WHERE is_dup),
        runs AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run
          FROM isl GROUP BY 1, 2),
        longest AS (SELECT doc_id, MAX(run) AS longest_run
          FROM runs GROUP BY 1),
        prof AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup
          FROM rk GROUP BY 1)
        SELECT prof.doc_id, n_chunks, n_dup,
          COALESCE(longest_run, 0) AS longest_run,
          (COALESCE(longest_run, 0) * 2 > n_chunks) AS boilerplate_flag
        FROM prof LEFT JOIN longest ON longest.doc_id = prof.doc_id"""),
      (s, d) => {
        val ch = t(s, d, "documents")
          .withColumn("t", expr(toksSpark("text")))
          .select(col("doc_id"), posexplode(expr(chunkFpSpark("t", "10")))
            .as(Seq("pos", "fp")))
        val rk = ch.withColumn("is_dup", row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos")))
            > 1)
          .select(col("doc_id"), col("pos"), col("is_dup"))
        val isl = rk.filter(col("is_dup"))
          .withColumn("grp", col("pos") - row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        val longest = isl.groupBy(col("doc_id"), col("grp"))
          .agg(count(lit(1)).as("run"))
          .groupBy(col("doc_id")).agg(max(col("run")).as("longest_run"))
        rk.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
          .join(longest, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"), col("n_dup"),
            coalesce(col("longest_run"), lit(0L)).as("longest_run"),
            (coalesce(col("longest_run"), lit(0L)) * 2 > col("n_chunks"))
              .as("boilerplate_flag"))
      }),

    // ---- winnowing copy pairs (the MOSS pair report) ------------------------
    // q219 selects the winnowed fingerprints (per-doc profile); this is
    // the report a MOSS-style checker actually SHOWS: for every doc
    // pair sharing >= 2 selected prints, the shared-print count and the
    // coverage of the smaller doc's print set (ppm). The distinction
    // from q212's shared-span matrix is the CANDIDATE SPACE: q212 pair-
    // joins the full chunk-fingerprint table, while this joins only the
    // winnowed ~2/(w+1)-density prints — the provable-recall sparsifier
    // (any shared >= 7-token run still yields a shared print), ~2.5x
    // fewer join rows at identical contiguous-copy recall. Boilerplate
    // prints shared by more docs than the df cap (q212's SpanDfCap
    // discipline) are dropped BEFORE the pair join, so fan-out per
    // print is bounded and the pair count stays linear in selected
    // prints — never all-pairs.
    QuerySpec(
      "q387_winnowing_pairs",
      Some(s"""WITH $winnowDuckCtes,
        sp AS (SELECT DISTINCT doc_id, h FROM sel),
        dfh AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS ndocs
          FROM sp GROUP BY 1),
        keep AS (SELECT sp.doc_id, sp.h FROM sp
          JOIN dfh ON dfh.h = sp.h
          WHERE dfh.ndocs BETWEEN 2 AND $SpanDfCap),
        np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_prints
          FROM sp GROUP BY 1),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM keep a JOIN keep b
            ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_shared,
          (n_shared * 1000000) // least(x.n_prints, y.n_prints)
            AS coverage_ppm
        FROM pr JOIN np x ON x.doc_id = doc_a
                JOIN np y ON y.doc_id = doc_b
        WHERE n_shared >= 2"""),
      (s, d) => {
        val sp = winnowedDocPrints(s, d)
        val np = sp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_prints"))
        winnowingPairCandidates(sp)
          .groupBy(col("a.doc_id").as("doc_a"),
            col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .join(np.select(col("doc_id").as("doc_a"),
            col("n_prints").as("np_a")), "doc_a")
          .join(np.select(col("doc_id").as("doc_b"),
            col("n_prints").as("np_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_shared"),
            expr("n_shared * 1000000 div least(np_a, np_b)")
              .as("coverage_ppm"))
      }),

    // ---- leakage-safe (component-consistent) train/eval split --------------
    // The eval-integrity op every LLM data pipeline needs and naive
    // hash splits get wrong: a per-DOC 80/20 hash split strands members
    // of one near-dup cluster on BOTH sides — train/test leakage the
    // deduped eval can't see. q330 enforces this at the EXACT-dup grain
    // (q40's fingerprint — transitive by construction, no closure
    // needed, aggregate readout); this is the NEAR-dup form, where
    // membership is NOT transitive per-pair so the split key must be
    // the COMPONENT (q48's verified near-dup components; singletons
    // are their own component), and the readout is the per-doc audit:
    // side = hash(component) instead of hash(doc_id).
    // Output is the per-doc audit: both assignments plus `naive_leak`
    // (this doc's component straddles the naive split). Determinism:
    // the 60-bit md5-prefix portable hash on the DECIMAL string of the
    // label; min-label components are canonical in both engines.
    // 100 TB plan: q48's bounded star rounds + two hash maps + windows
    // that partition on component — no global window, no new joins
    // beyond the component machinery.
    QuerySpec(
      "q389_component_split",
      Some(s"""WITH $minhashSymDuck,
          ${minLabelRootsDuck(12)},
          lab AS (SELECT d.doc_id,
              COALESCE(r.component, d.doc_id) AS component
            FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id),
          sided AS (SELECT doc_id, component,
              CASE WHEN (${h64Duck("CAST(component AS VARCHAR)")}) % 10 < 8
                THEN 'train' ELSE 'eval' END AS comp_side,
              CASE WHEN (${h64Duck("CAST(doc_id AS VARCHAR)")}) % 10 < 8
                THEN 'train' ELSE 'eval' END AS naive_side
            FROM lab)
          SELECT doc_id, component,
            CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
              AS n_members,
            comp_side, naive_side,
            MIN(naive_side) OVER (PARTITION BY component)
              <> MAX(naive_side) OVER (PARTITION BY component)
              AS naive_leak
          FROM sided"""),
      (s, d) => {
        val lab = fullComponents(s, d, shingleSets(s, d))
        val wC = Window.partitionBy(col("component"))
        lab
          .withColumn("comp_side",
            when(expr(h64Spark("cast(component as string)")) % 10 < 8,
              "train").otherwise("eval"))
          .withColumn("naive_side",
            when(expr(h64Spark("cast(doc_id as string)")) % 10 < 8,
              "train").otherwise("eval"))
          .withColumn("n_members", count(lit(1)).over(wC))
          .withColumn("naive_leak",
            min(col("naive_side")).over(wC) =!= max(col("naive_side"))
              .over(wC))
          .select(col("doc_id"), col("component"), col("n_members"),
            col("comp_side"), col("naive_side"), col("naive_leak"))
      }),

    // ---- incremental component maintenance (daily-crawl merge) -------------
    // The production form of q48 the ledger actually runs: yesterday's
    // near-dup components are AT REST (the label ledger); today's batch
    // (doc_id >= 250) arrives, and only NEW edges (new-new + new-old,
    // via q324's batch-probed band join — old x old candidates never
    // materialize) can change labels. The incremental rule is graph
    // CONTRACTION: map every edge endpoint to its old component label
    // (new docs label themselves), run the bounded star rounds on that
    // label graph — vertices = only labels TOUCHED by new edges, orders
    // of magnitude below the corpus — and splice the merged labels back.
    // Correctness claim, oracle-checked: contraction + merge equals the
    // full recompute over corpus+batch (min-label components compose:
    // the min over merged old components IS the global min). Output per
    // doc: final component + the merge audit (members, new members,
    // distinct old components absorbed — n_old_components >= 2 is a
    // batch-induced MERGE event). 100 TB plan: per day, the star rounds
    // run on the contracted label graph (size ~ today's edge count),
    // not the corpus graph; everything else is hash joins keyed on
    // doc_id/label.
    QuerySpec(
      "q390_incremental_components",
      Some(s"""WITH $minhashSymDuck,
          ${minLabelRootsDuck(12)},
          ${symDuck("o", "WHERE doc_a < 250 AND doc_b < 250")},
          ${minLabelRootsDuck(12, "o")},
          lab AS (SELECT d.doc_id,
              COALESCE(r.component, d.doc_id) AS component
            FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id),
          oldlab AS (SELECT d.doc_id,
              COALESCE(orr.component, d.doc_id) AS label
            FROM documents d LEFT JOIN oroots orr ON orr.doc_id = d.doc_id
            WHERE d.doc_id < 250),
          stats AS (SELECT l.component,
              CAST(COUNT(*) AS BIGINT) AS n_members,
              CAST(SUM(CASE WHEN l.doc_id >= 250 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_members,
              CAST(COUNT(DISTINCT ol.label) AS BIGINT) AS n_old_components
            FROM lab l LEFT JOIN oldlab ol ON ol.doc_id = l.doc_id
            GROUP BY 1)
          SELECT l.doc_id, l.component, l.doc_id >= 250 AS is_new,
            s.n_members, s.n_new_members, s.n_old_components
          FROM lab l JOIN stats s ON s.component = l.component"""),
      (s, d) => incrementalComponents(s, d, 250L)),

    // ---- leakage-safe split MATERIALIZER (q389 -> the op a pipeline runs) --
    // q389 AUDITS naive leakage; this emits the artifact a training
    // pipeline actually consumes: per doc, its component, its
    // component-hashed split (train 80 / eval 20 — closed by
    // construction: split is a function of the component, so a cluster
    // can never straddle it), whether the doc is the split's retained
    // canonical representative (min doc_id per component — the dedup
    // survivor that enters training), and whether the component hash
    // MOVED it relative to the naive per-doc hash (q389's repaired
    // leaks, reconciled row-for-row in QueriesSpec). Per-split columns
    // carry the budget-discipline readout (q335's grain): doc count,
    // duplicate mass retained-out (docs - components), and the
    // representatives' whitespace-token mass as corpus ppm — the
    // number a token-budget allocator needs from a split before
    // training. 100 TB plan: components are q48's band-bounded edges +
    // bounded star rounds; the split/rep/moved columns are component-
    // partitioned windows and doc-keyed hash joins (no global window);
    // the split rollup is a 2-group agg; the 1-row corpus token total
    // broadcasts as a bounded scalar.
    QuerySpec(
      "q393_split_materialize", {
        val hComp = h64Duck("CAST(component AS VARCHAR)")
        val hDoc = h64Duck("CAST(doc_id AS VARCHAR)")
        Some(s"""WITH $minhashSymDuck,
          ${minLabelRootsDuck(12)},
          lab AS (SELECT d.doc_id,
              COALESCE(r.component, d.doc_id) AS component,
              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
            FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id),
          sided AS (SELECT doc_id, component, n_tokens,
              CASE WHEN ($hComp) % 10 < 8 THEN 'train' ELSE 'eval' END
                AS split,
              CASE WHEN ($hDoc) % 10 < 8 THEN 'train' ELSE 'eval' END
                AS naive_side,
              doc_id = MIN(doc_id) OVER (PARTITION BY component)
                AS is_rep
            FROM lab),
          tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens
            FROM sided),
          st AS (SELECT split,
              CAST(COUNT(*) AS BIGINT) AS split_docs,
              CAST(COUNT(DISTINCT component) AS BIGINT) AS split_comps,
              CAST(SUM(CASE WHEN is_rep THEN n_tokens ELSE 0 END)
                AS BIGINT) AS rep_tokens
            FROM sided GROUP BY 1)
          SELECT s.doc_id, s.component, s.split, s.is_rep,
            s.naive_side <> s.split AS moved,
            st.split_docs,
            st.split_docs - st.split_comps AS split_dup_mass,
            CAST(st.rep_tokens * 1000000 // tot.corpus_tokens AS BIGINT)
              AS split_rep_token_ppm
          FROM sided s JOIN st ON st.split = s.split, tot""")
      },
      (s, d) => {
        val lab = fullComponents(s, d, shingleSets(s, d))
          .join(t(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
            "doc_id")
        val wC = Window.partitionBy(col("component"))
        val sided = lab
          .withColumn("split",
            when(expr(h64Spark("cast(component as string)")) % 10 < 8,
              "train").otherwise("eval"))
          .withColumn("naive_side",
            when(expr(h64Spark("cast(doc_id as string)")) % 10 < 8,
              "train").otherwise("eval"))
          .withColumn("is_rep",
            col("doc_id") === min(col("doc_id")).over(wC))
          .cache()
        val tot = sided.agg(sum(col("n_tokens")).as("corpus_tokens"))
        val st = sided.groupBy(col("split"))
          .agg(count(lit(1)).as("split_docs"),
            countDistinct(col("component")).as("split_comps"),
            sum(when(col("is_rep"), col("n_tokens")).otherwise(0L))
              .as("rep_tokens"))
          .crossJoin(broadcast(tot)) // 1-row corpus token total
          .select(col("split"), col("split_docs"),
            (col("split_docs") - col("split_comps"))
              .as("split_dup_mass"),
            expr("rep_tokens * 1000000 div corpus_tokens")
              .as("split_rep_token_ppm"))
        sided
          .join(broadcast(st), "split") // 2-row split rollup
          .select(col("doc_id"), col("component"), col("split"),
            col("is_rep"),
            (col("naive_side") =!= col("split")).as("moved"),
            col("split_docs"), col("split_dup_mass"),
            col("split_rep_token_ppm"))
      }),

    // ---- split-side CHURN under incremental growth (round 15) --------------
    // q393 materializes a component-hashed split; q390 shows batches
    // MERGE components — and a merge can change a component's min
    // label, so its hash, so its SIDE. This op audits exactly that
    // churn: for every corpus doc, its side under yesterday's
    // components (doc_id < 250, the q324/q390 batch convention) vs
    // under today's (corpus + batch), rolled up per transition class.
    // The classes a training owner reads: eval->train means docs that
    // benchmarked PAST models are now trainable (past eval scores on
    // them are dead — version the benchmark); train->eval wastes
    // already-trained-on docs (they cannot re-enter eval unseen);
    // 'arrived' rows are the batch's own assignment. Stability ppm per
    // class is the SLO number (a split that churns percent-level per
    // day needs label pinning, not re-hashing). Determinism: both
    // labelings are min-label components; the side rule is q393's
    // portable hash. 100 TB plan: ONE candidate/verify pass is shared
    // by both labelings (old edges = verified pairs with both ends
    // old — band keys are row-local, so the restriction equals
    // re-running on the subset); the rollup is a 6-row group; in
    // production the old labels come from q390's ledger at rest, no
    // recompute.
    QuerySpec(
      "q399_split_churn",
      Some(s"""WITH $minhashSymDuck,
          ${minLabelRootsDuck(12)},
          ${symDuck("o", "WHERE doc_a < 250 AND doc_b < 250")},
          ${minLabelRootsDuck(12, "o")},
          lab AS (SELECT d.doc_id,
              COALESCE(r.component, d.doc_id) AS component
            FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id),
          oldlab AS (SELECT d.doc_id,
              COALESCE(orr.component, d.doc_id) AS component
            FROM documents d LEFT JOIN oroots orr ON orr.doc_id = d.doc_id
            WHERE d.doc_id < 250),
          sided AS (SELECT l.doc_id, l.component,
              CASE WHEN ol.doc_id IS NULL THEN 'arrived'
                WHEN (${h64Duck("CAST(ol.component AS VARCHAR)")}) % 10 < 8
                  THEN 'train' ELSE 'eval' END AS old_side,
              CASE WHEN (${h64Duck("CAST(l.component AS VARCHAR)")}) % 10 < 8
                THEN 'train' ELSE 'eval' END AS new_side
            FROM lab l LEFT JOIN oldlab ol ON ol.doc_id = l.doc_id),
          tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM sided)
          SELECT old_side, new_side,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
            old_side <> 'arrived' AND old_side <> new_side AS flipped,
            CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT t FROM tot)
              AS share_ppm
          FROM sided GROUP BY 1, 2"""),
      (s, d) => {
        val edges = minhashEdges(shingleSets(s, d))
          .select(col("doc_a"), col("doc_b")).cache()
        val docs = t(s, d, "documents").select(col("doc_id"))
        val newlab = docs
          .join(connectedComponents(edges), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
        val oldlab = docs.filter(col("doc_id") < 250)
          .join(connectedComponents(edges
            .filter(col("doc_a") < 250 && col("doc_b") < 250)),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id"))
              .as("old_component"))
        val sided = newlab.join(oldlab, Seq("doc_id"), "left")
          .withColumn("old_side",
            when(col("old_component").isNull, "arrived")
              .when(expr(h64Spark("cast(old_component as string)"))
                % 10 < 8, "train").otherwise("eval"))
          .withColumn("new_side",
            when(expr(h64Spark("cast(component as string)")) % 10 < 8,
              "train").otherwise("eval"))
        val tot = sided.agg(count(lit(1)).as("t"))
        sided.groupBy(col("old_side"), col("new_side"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("component")).as("n_components"))
          .withColumn("flipped", col("old_side") =!= lit("arrived")
            && col("old_side") =!= col("new_side"))
          .crossJoin(broadcast(tot)) // 1-row corpus total
          .select(col("old_side"), col("new_side"), col("n_docs"),
            col("n_components"), col("flipped"),
            expr("n_docs * 1000000 div t").as("share_ppm"))
      })
  )

  /** q390's contraction-and-merge, the batch/corpus boundary as a
    * parameter (the fixture's 250 only exercises ATTACH events — new
    * docs joining one old component; QueriesSpec picks a boundary that
    * makes a new doc BRIDGE two old components and proves the merge
    * path against the full recomputation).
    */
  private[graft] def incrementalComponents(s: SparkSession, d: String,
      boundary: Long): DataFrame = {
    val sh = shingleSets(s, d)
    // yesterday's ledger: components over the OLD subgraph only
    val oldEdges = minhashEdges(sh.filter(col("doc_id") < boundary))
    val oldLab = t(s, d, "documents").select(col("doc_id"))
      .filter(col("doc_id") < boundary)
      .join(connectedComponents(oldEdges), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("label"))
    // today's NEW edges: band probe restricted to the batch (q324)
    val eNew = verifyJaccard(sh, minhashCandidates(sh, boundary), 0.8)
      .select(col("doc_a"), col("doc_b"))
    // contraction: endpoints -> old labels (new docs label themselves)
    val labAll = t(s, d, "documents").select(col("doc_id"))
      .join(oldLab, Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
    val contracted = eNew
      .join(labAll.select(col("doc_id").as("doc_a"),
        col("label").as("la")), "doc_a")
      .join(labAll.select(col("doc_id").as("doc_b"),
        col("label").as("lb")), "doc_b")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b"))
    val merged = connectedComponents(contracted)
      .select(col("doc_id").as("label"), col("component").as("nl"))
    val fin = labAll.join(merged, Seq("label"), "left")
      .withColumn("component", coalesce(col("nl"), col("label")))
      .withColumn("is_new", col("doc_id") >= boundary)
    val stats = fin.groupBy(col("component").as("c"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new_members"),
        countDistinct(when(!col("is_new"), col("label")))
          .as("n_old_components"))
    fin.join(stats, col("component") === col("c"))
      .select(col("doc_id"), col("component"), col("is_new"),
        col("n_members"), col("n_new_members"), col("n_old_components"))
  }
}

