package graft.queries

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (mandated extension;
  * SURVEY §2.B "Similarity"): brute-force cosine top-k as the exactness
  * baseline, and a hyperplane-LSH (random-projection signature) bucketed
  * variant as the scale path.
  *
  * Determinism: vectors are integer-quantized once (round(x*1000) —
  * exact, order-independent long math; see [[graft.functions.Portable]]),
  * hyperplane weights are fixed Scala constants interpolated into both
  * engines' SQL, and every top-k has a total tiebreak — so both queries
  * hash-match DuckDB exactly, including the LSH candidate sets.
  *
  * Scale posture (100 TB):
  *  - The quantized (vec_id, qvec, nsq[, sig]) projection is computed once
  *    and cached — it is the ~1%-of-corpus-width signature table every
  *    stage reuses, the vector-search analog of an index build.
  *  - q45 broadcasts the (small) query set against the full corpus — one
  *    scan, no shuffle of the big side; per-query top-k is a window over
  *    only the query partition. O(nq*n) compute but bandwidth-bound scan.
  *  - q46 replaces the full scan with signature-band buckets: candidates
  *    come from a shuffle on (band, value) keys — probe cost proportional
  *    to bucket occupancy, not corpus size. Recall is probabilistic but
  *    *identical* across engines because the planes are.
  *
  * Builder twins (Spark → DuckDB), so no query spells a shared shape by
  * hand: [[querySet]] → [[duckQuerySet]] (the `(q_id, q_qv, q_nsq)`
  * query set), [[topK]] → [[duckTopK]] (id-tiebroken top-k; the cosine
  * forms [[cosineTopK]] and [[neighbors]] rank through it), [[celled]] →
  * [[duckCells4Cte]] (4-plane cells), [[probeList4]] → [[duckProbeList4]]
  * (q351's confidence-ordered probe list), [[adaptiveQueryHead]] →
  * [[duckAdaptiveQueryHead]] (the adaptive ANN query head),
  * [[adaptiveDepthSpark]] → [[adaptiveDepthDuck]] (depth clamp) and
  * [[elasticStop]] → [[duckElasticStop]] (quota stop + recall audit).
  */
object Similarity {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private[graft] val Dims = 64

  /** Top-k depth every recall readout divides by — package-visible so
    * ScaleProbe's recall_ppm computations track a K change instead of
    * duplicating the magic number (round-14 ADVICE).
    */
  private[graft] val K = 5

  /** Query set: a fixed small id range, so size is sf-independent. */
  private val NumQueries = 10

  /** q350: hardest negatives kept per anchor. */
  private val HardNegK = 3

  /** q386 MMR selection depth — the oracle unrolls the same K stages.
    * [[mmrSelect]] takes K as a parameter (ScaleSpec drives it at 20).
    */
  private[graft] val MmrK = 5

  /** q376: fixed audited-id range for the label-consensus sample. */
  private val ConsensusIds = 100

  /** q200 codebook size: codewords per PQ subspace (a fixed seed-id
    * range, sf-independent like the query set).
    */
  private val PqCodes = 8

  /** q98 semantic-dedup cosine threshold (same similarity scale as q44).
    * private[graft]: SemDedupStream admits against the SAME threshold.
    */
  private[graft] val SemThreshold = 0.4

  /** 48 hyperplanes with integer weights in [-1000, 1000], fixed seed —
    * the same constants are interpolated into both engines' SQL. Projection
    * of a quantized vector onto integer planes is exact long math
    * (|proj| <= 64 * 1e3 * 2e3 ≈ 1.3e8).
    *
    * Width history: 16 planes through round 12; widened to 48 (round-12
    * verdict #1) so the occupancy-capped trie ([[trieLeaf]], q380,
    * [[graft.streaming.SemDedupStream]]) can deepen with the corpus —
    * key space 2^48 cells ≈ 9e15 vectors at cap 32, vs the old 2^16
    * ceiling (~2M). The widening is BIT-STABLE for every existing
    * consumer: planes are drawn row-by-row from one fixed-seed stream,
    * so planes 0-15 are identical to the 16-plane era, and every pinned
    * oracle space masks <= 16 low bits (`sig & 15` = the q98/q353/q354
    * cell, 4-bit LSH bands, the adaptive k <= 16 cells at fixture SFs).
    */
  private[graft] val Planes = 48
  private val planes: Seq[Seq[Int]] = {
    val rng = new scala.util.Random(7)
    Seq.fill(Planes, Dims)(rng.nextInt(2001) - 1000)
  }

  /** All 48 planes as ONE array-of-arrays SQL literal, for per-row
    * plane loops written as a single `transform` lambda instead of 48
    * separate projection expressions — the 48-expression form costs
    * ~2 s of driver-side analysis + codegen PER RUN (measured on q400:
    * 5.3 s -> the transform form's runtime), because each of the 48
    * `aggregate(zip_with(...))` trees codegens its own block over a
    * 64-literal array. Same exact integer math, loop-carried at
    * runtime.
    */
  private lazy val planesMatrixSql: String =
    planes.map(row => row.map(v => s"${v}L")
        .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** `abs(projection)` onto every plane as one array column (the
    * confidence vector the ranked-flip probe rule sorts).
    */
  private def apArraySql: String =
    s"""transform($planesMatrixSql, p ->
        abs(aggregate(zip_with(qv, p, (e, w) -> e * w),
          0L, (a, v) -> a + v)))"""

  /** Read-only plane access for specs that CONSTRUCT adversarial
    * fixtures in signature space (StreamingSpec's saturation-divergence
    * leg builds two clusters sharing a 12-plane prefix but nearly
    * orthogonal in cosine).
    */
  private[graft] def planeWeights: Seq[Seq[Int]] = planes

  /** Exact integer projection of the quantized vector onto plane p. */
  private def projSpark(p: Int): String = {
    val w = planes(p).map(v => s"${v}L").mkString(", ")
    s"aggregate(zip_with(qv, array($w), (e, w) -> e * w), 0L, (a, v) -> a + v)"
  }

  private def projDuck(p: Int): String = {
    val w = planes(p).mkString(", ")
    s"list_sum([qv[i] * ([$w][i]) for i in range(1, ${Dims + 1})])"
  }

  /** Signature bit p = sign of the projection of the quantized vector. */
  private def sigSpark: String =
    (0 until Planes)
      .map(p => s"IF(${projSpark(p)} >= 0, shiftleft(1L, $p), 0L)")
      .mkString(" + ")

  private def sigDuck: String =
    (0 until Planes)
      .map(p => s"""CASE WHEN ${projDuck(p)} >= 0
          THEN (CAST(1 AS BIGINT) << $p) ELSE 0 END""")
      .mkString(" + ")

  /** Quantized projection of the embeddings table, optionally with the LSH
    * signature; cached — every downstream stage reuses it.
    */
  private def quantized(s: SparkSession, d: String,
      withSig: Boolean): DataFrame = {
    val base = t(s, d, "embeddings")
      .select(col("vec_id"), expr(qvecSpark("embedding")).as("qv"))
      .withColumn("nsq", expr(qnsqSpark("qv")))
    (if (withSig) base.withColumn("sig", expr(sigSpark)) else base).cache()
  }

  /** [[quantized]] with signatures, materialized ONCE with its lineage
    * cut: the 48-plane sig tree is ~3k literal nodes, and every
    * downstream reuse of a cached-but-unbroken plan re-canonicalizes it
    * (cache lookup) and re-analyzes it per join — measured as the
    * dominant driver-side cost of the trie-ANN family (5.3 -> 1.8 s on
    * q400's frames). The rebuilt LogicalRDD (stats dropped — the
    * ComponentStream discipline) is 1 node.
    */
  private def quantizedSigCut(s: SparkSession, d: String): DataFrame = {
    val ck = quantized(s, d, withSig = true).localCheckpoint(true)
    s.createDataFrame(ck.rdd, ck.schema)
  }

  private[graft] val duckQuantCte =
    s"""e AS (SELECT vec_id, ${qvecDuck("embedding", Dims)} AS qv
         FROM embeddings),
       en AS (SELECT vec_id, qv, ${qnsqDuck("qv", Dims)} AS nsq FROM e)"""

  /** DuckDB twin of [[celled]]: the quantized CTEs, then
    * `cells(vec_id, qv, nsq, p0, p1, p2, p3, cell, minj)` — the 4-plane
    * cell space of q47/q98/q351/q353/q354/q398, exposed for oracles that
    * compose the semantic-dedup stage across query files (q382's
    * ladder).
    */
  private[graft] def duckCells4Cte: String =
    s"""$duckQuantCte,
       pr AS (SELECT vec_id, qv, nsq,
           ${projDuck(0)} AS p0, ${projDuck(1)} AS p1,
           ${projDuck(2)} AS p2, ${projDuck(3)} AS p3
         FROM en),
       cells AS (SELECT vec_id, qv, nsq, p0, p1, p2, p3,
           (CASE WHEN p0 >= 0 THEN 1 ELSE 0 END
            + CASE WHEN p1 >= 0 THEN 2 ELSE 0 END
            + CASE WHEN p2 >= 0 THEN 4 ELSE 0 END
            + CASE WHEN p3 >= 0 THEN 8 ELSE 0 END) AS cell,
           CASE
             WHEN abs(p0) <= abs(p1) AND abs(p0) <= abs(p2)
               AND abs(p0) <= abs(p3) THEN 0
             WHEN abs(p1) <= abs(p2) AND abs(p1) <= abs(p3) THEN 1
             WHEN abs(p2) <= abs(p3) THEN 2
             ELSE 3 END AS minj
         FROM pr)"""

  /** One Lloyd step as shared CTEs (q356 churn + q369 stability read the
    * same two assignments): a0 = exact-integer argmin against the 10
    * seed vectors; a1 = argmin against the step-1 centroids (per-cell
    * exact integer SUM quantized to the milli grid by sign-pinned
    * truncating division; distances exact int64 on the 1000x grid).
    * Expects `en` from [[duckQuantCte]] in scope.
    */
  private val duckLloydCtes =
    s"""seeds AS (SELECT vec_id AS cid, qv AS cqv, nsq AS cnsq
          FROM en WHERE vec_id < $NumQueries),
        d0 AS (SELECT en.vec_id, s.cid,
            en.nsq - 2 * ${qdotDuck("en.qv", "s.cqv", Dims)} + s.cnsq AS d2
          FROM en, seeds s),
        a0 AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM d0) z
          WHERE rk = 1),
        lex AS (SELECT cid, u.dim AS dim, u.q AS q FROM (
            SELECT a0.cid, unnest([{'dim': CAST(i - 1 AS INT),
                'q': en.qv[i]} for i in range(1, ${Dims + 1})]) AS u
            FROM a0 JOIN en ON en.vec_id = a0.vec_id) z),
        lcs AS (SELECT cid, dim, CAST(SUM(q) AS BIGINT) AS sq,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM lex GROUP BY 1, 2),
        mu AS (SELECT cid, MIN(n) AS n_before,
            list(CAST(CASE WHEN sq >= 0 THEN (sq * 1000) // n
              ELSE -(((-sq) * 1000) // n) END AS BIGINT)
              ORDER BY dim) AS muv
          FROM lcs GROUP BY cid),
        mun AS (SELECT cid, n_before, muv,
            list_sum([muv[i] * muv[i]
              for i in range(1, ${Dims + 1})]) AS munsq
          FROM mu),
        d1 AS (SELECT en.vec_id, m.cid,
            1000000 * en.nsq
              - 2000 * list_sum([en.qv[i] * m.muv[i]
                  for i in range(1, ${Dims + 1})])
              + m.munsq AS d2
          FROM en, mun m),
        a1 AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM d1) z
          WHERE rk = 1)"""

  /** Spark twin of [[duckLloydCtes]]: returns (en, a0 (vec_id, cid),
    * a1 (vec_id, cid1)). Both passes are broadcast-10-centroid row-local
    * argmins via q108's min-struct partial-agg discipline.
    */
  private def lloydAssigns(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
        "0L, (acc, v) -> acc + v)")
    val en = quantized(s, d, withSig = false)
    val a0 = en.crossJoin(broadcast(en.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("cid"), col("qv").as("cqv"),
          col("nsq").as("cnsq"))))
      .select(col("vec_id"),
        struct((col("nsq") - lit(2) * dot("qv", "cqv") + col("cnsq"))
          .as("d2"), col("cid")).as("dc"))
      .groupBy(col("vec_id")).agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    val cs = a0.join(en.select(col("vec_id"), col("qv")), "vec_id")
      .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
    val mun = cs
      .withColumn("mu", expr(
        "IF(sq >= 0, (sq * 1000) div n, -(((-sq) * 1000) div n))"))
      .groupBy(col("cid"))
      .agg(min(col("n")).as("n_before"),
        expr("transform(array_sort(collect_list(struct(dim, mu)))," +
          " x -> x.mu)").as("muv"))
      .withColumn("munsq", expr(
        "aggregate(transform(muv, v -> v * v), 0L, (a, v) -> a + v)"))
    val a1 = en.crossJoin(broadcast(mun))
      .select(col("vec_id"),
        struct((lit(1000000L) * col("nsq")
          - lit(2000L) * dot("qv", "muv") + col("munsq")).as("d2"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id")).agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid1"))
    (en, a0, a1)
  }

  /** Fused native expression (graft.expressions.QCosine): one codegen'd
    * loop, same exact integer semantics as the Portable.qdot formulation.
    */
  private def cosineCol: Column =
    expr("qcosine(q_qv, qv, q_nsq, nsq)")

  // ---- query-side builders, one per engine (twins: see the object doc) ---

  /** The query set `(q_id, q_qv, q_nsq)`: the rows of a quantized frame
    * `(vec_id, qv, nsq, ...)` with vec_id < n. Twin of [[duckQuerySet]].
    */
  private def querySet(df: DataFrame, n: Int = NumQueries): DataFrame =
    df.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nsq").as("q_nsq"))

  /** Twin of [[querySet]]: the query set of relation `src`. */
  private def duckQuerySet(src: String, n: Int = NumQueries): String =
    s"""SELECT vec_id AS q_id, qv AS q_qv, nsq AS q_nsq FROM $src
        WHERE vec_id < $n"""

  /** Id-tiebroken top-k: `rk` = row_number() within `keys` by (`score`
    * DESC, `tie`), keeping rk <= k. Twin of [[duckTopK]].
    */
  private def topK(df: DataFrame, keys: Seq[String], score: String,
      tie: String, k: Int = K, rk: String = "rk"): DataFrame =
    df.withColumn(rk, row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(score).desc, col(tie))))
      .filter(col(rk) <= k)

  /** Twin of [[topK]]: the rows of relation `src` plus their `rk`, ranked
    * within `keys` (a SQL list) by (`score` DESC, `tie`), rk <= k.
    */
  private def duckTopK(src: String, keys: String, score: String,
      tie: String, k: Int = K): String =
    s"""SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY $keys
          ORDER BY $score DESC, $tie) AS rk FROM $src) z
        WHERE rk <= $k"""

  /** Exact-cosine top-[[K]] per query over a pair frame with columns
    * q_id/q_qv/q_nsq/vec_id/qv/nsq: [[topK]] on `c` = [[cosineCol]],
    * ties to the lower vec_id; `(q_id, vec_id, ..., c, rk)`.
    */
  private def cosineTopK(pairs: DataFrame): DataFrame =
    topK(pairs.withColumn("c", cosineCol), Seq("q_id"), "c", "vec_id")

  /** The same ranking as [[cosineTopK]], published as the neighbor list
    * `(query_id, neighbor_id, cosine, rk)` (renamed before the window,
    * so the window reads only those three columns).
    */
  private def neighbors(pairs: DataFrame): DataFrame =
    topK(pairs.withColumn("cosine", cosineCol)
        .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
          col("cosine")),
      Seq("query_id"), "cosine", "neighbor_id")

  // ---- candidate generation (shared with tools.ScaleProbe) ---------------
  //
  // Same discipline as Dedup's accessors: the ANN scale hazard is the
  // candidate stage, so expose it for empirical growth measurement.

  /** LSH band-bucket candidates (q_id, vec_id) for the fixed query set. */
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d, withSig = true)
    val bl = e.select(col("vec_id"),
        posexplode(expr(
          "transform(sequence(0, 3), j -> (shiftright(sig, 4*j) & 15))")))
      .toDF("vec_id", "band_j", "band")
    val qb = bl.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("band_j"), col("band"))
    bl.join(broadcast(qb), Seq("band_j", "band"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
  }

  /** Dense leg of hybrid retrieval (q314 RRF): exact-cosine top-k over
    * the LSH band-bucket candidates of ONE query vector, k-bounded via
    * TakeOrdered — (doc_id, rk_dense). The embeddings fixture's vec_id
    * is doc-aligned (TESTDATA.md), so the list joins BM25's by doc_id.
    */
  private[graft] def denseList(s: SparkSession, d: String, qId: Int,
      k: Int): DataFrame = {
    val e = quantized(s, d, withSig = true)
    val qe = e.filter(col("vec_id") === qId)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nsq").as("q_nsq"))
    lshCandidates(s, d).filter(col("q_id") === qId)
      .join(e, "vec_id")
      .join(broadcast(qe), "q_id")
      .withColumn("cosine", cosineCol)
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
      .withColumn("rk_dense", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id"))).cast("int"))
      .select(col("vec_id").as("doc_id"), col("rk_dense"))
  }

  /** DuckDB CTE chain mirroring [[denseList]]; emits
    * `dense(doc_id, rk_dense)`.
    */
  private[graft] def denseListDuck(qId: Int, k: Int): String =
    s"""$duckQuantCte,
      es AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
      bl AS (SELECT vec_id, j, (sig >> (4*j)) & 15 AS band
        FROM es, (SELECT unnest(range(0, 4)) AS j) z),
      dcand AS (SELECT DISTINCT b.vec_id
        FROM bl a JOIN bl b ON b.j = a.j AND b.band = a.band
        WHERE a.vec_id = $qId AND b.vec_id <> $qId),
      dsc AS (SELECT c.vec_id AS doc_id,
          ${qcosDuck("x.qv", "y.qv", "x.nsq", "y.nsq", Dims)}
            AS cosine
        FROM dcand c JOIN es x ON x.vec_id = $qId
                     JOIN es y ON y.vec_id = c.vec_id),
      dense AS (SELECT doc_id,
          CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT)
            AS rk_dense
        FROM (SELECT * FROM dsc ORDER BY cosine DESC, doc_id LIMIT $k) zz)"""

  /** Corpus with IVF cell + least-confident-plane assignments. */
  private[graft] def celled(s: SparkSession, d: String): DataFrame =
    quantized(s, d, withSig = false)
      .select(col("vec_id"), col("qv"), col("nsq"),
        expr(projSpark(0)).as("p0"), expr(projSpark(1)).as("p1"),
        expr(projSpark(2)).as("p2"), expr(projSpark(3)).as("p3"))
      .withColumn("cell", expr(
        "IF(p0 >= 0, 1, 0) + IF(p1 >= 0, 2, 0) " +
          "+ IF(p2 >= 0, 4, 0) + IF(p3 >= 0, 8, 0)"))
      .withColumn("minj", expr("""CASE
          WHEN abs(p0) <= abs(p1) AND abs(p0) <= abs(p2)
            AND abs(p0) <= abs(p3) THEN 0
          WHEN abs(p1) <= abs(p2) AND abs(p1) <= abs(p3) THEN 1
          WHEN abs(p2) <= abs(p3) THEN 2
          ELSE 3 END"""))

  /** q351's 4-plane confidence-ordered probe list over [[celled]]'s query
    * rows: `(q_id, carry..., cell, ord, plist)`, plist = the own cell,
    * then the single-plane flips by ascending |projection| (plane index
    * breaks ties). Twin of [[duckProbeList4]].
    */
  private def probeList4(c: DataFrame, carry: Column*): DataFrame =
    c.filter(col("vec_id") < NumQueries)
      .select((col("vec_id").as("q_id") +: carry) ++ Seq(col("cell"),
        expr("""array_sort(array(
          struct(abs(p0) AS a, 0 AS j), struct(abs(p1) AS a, 1 AS j),
          struct(abs(p2) AS a, 2 AS j), struct(abs(p3) AS a, 3 AS j)))
          """).as("ord")): _*)
      .withColumn("plist", expr(
        "concat(array(cell), transform(ord, o -> cell ^ shiftleft(1, o.j)))"))

  /** Twin of [[probeList4]] over [[duckCells4Cte]]'s `cells`: emits `pl`
    * and `pls(q_id, q_qv, q_nsq, plist)`.
    */
  private def duckProbeList4: String =
    s"""pl AS (SELECT vec_id AS q_id, qv AS q_qv, nsq AS q_nsq, cell,
          list_sort([{'a': abs(p0), 'j': 0}, {'a': abs(p1), 'j': 1},
            {'a': abs(p2), 'j': 2}, {'a': abs(p3), 'j': 3}]) AS ord
        FROM cells WHERE vec_id < $NumQueries),
      pls AS (SELECT q_id, q_qv, q_nsq,
          list_concat([cell], [xor(cell, 1 << o.j) for o in ord]) AS plist
        FROM pl)"""

  /** Quantized 4-plane-celled projection of an arbitrary embeddings-shaped
    * frame `(vec_id, embedding)` — q354's coarse-cell assignment as ONE
    * definition. The streaming twin ([[graft.streaming.SemDedupStream]])
    * keys state on [[trieLeaf]] prefixes of the SAME signature (its
    * `maxDepth = 4` parity mode degenerates to exactly this cell), so
    * the state key space is the batch index's key space, never a
    * re-derivation.
    */
  private[graft] def quantCell4(df: DataFrame): DataFrame = {
    val cellExpr = (0 until 4)
      .map(p => s"IF(${projSpark(p)} >= 0, ${1 << p}, 0)").mkString(" + ")
    df.select(col("vec_id"), expr(qvecSpark("embedding")).as("qv"))
      .withColumn("nsq", expr(qnsqSpark("qv")))
      .withColumn("cell", expr(cellExpr).cast("int"))
  }

  /** Quantized projection WITH the full 48-plane signature, for an
    * arbitrary embeddings-shaped frame `(vec_id, embedding)` — the
    * frame-generic twin of [[quantized]]`(withSig = true)` (which is
    * pinned to the fixture table). `sig & 15 == quantCell4.cell` by
    * construction (same planes 0-3, same weights, same `>= 0` rule), so
    * trie prefixes of `sig` REFINE the q98/q354 cell space.
    */
  private[graft] def quantSig(df: DataFrame): DataFrame =
    df.select(col("vec_id"), expr(qvecSpark("embedding")).as("qv"))
      .withColumn("nsq", expr(qnsqSpark("qv")))
      .withColumn("sig", expr(sigSpark))

  /** Occupancy-capped sign-prefix trie leaf (q380's rule, generalized to
    * any depth ceiling): each vector's leaf is the FIRST depth d in
    * [4, maxDepth] whose prefix-cell occupancy is <= cap, else the
    * (possibly over-cap) depth-maxDepth cell. Input needs (vec_id, sig);
    * output (vec_id, depth, cell). Expressed as maxDepth-3 bounded
    * levels (explode + (depth, cell)-keyed occupancy agg + join-back +
    * integer-encoded min) — no loop, no window over the corpus.
    */
  /** (depth, cell) -> one long key: depth rides above the cell's 48 bits
    * (enc <= 48 * 2^48 + 2^48 < 2^54). Shared with the streaming state
    * key ([[graft.streaming.SemDedupStream]]) so the two encodings can't
    * drift; 65536 (16-bit cells) until the round-13 width bump.
    */
  private[graft] val CellEncShift: Long = 1L << Planes

  /** The pinned oracle grain: every fixture SF's corpus/cap bit-length
    * lands at or below 12, so flooring the adaptive depth here keeps
    * every pre-round-14 oracle's (depth, cell) output byte-identical.
    */
  private[graft] val TrieDepthFloor = 12

  /** q388's planning readout as ONE deployed rule (round-13 verdict #1):
    * the trie depth ceiling a corpus of `n` vectors needs at occupancy
    * cap `cap` is bitlength(n / cap) — cells at that depth average ~cap
    * occupancy — floored at [[TrieDepthFloor]] and capped at the
    * signature width. This is [[Dedup.ladderCells4]]'s adaptive-k rule
    * applied to the trie family: without it, past ~2^12 * cap vectors
    * every deepest cell is over-cap "audited remainder" and the in-cell
    * verify goes quadratic (the 2^16 ceiling round 12 removed, reborn
    * one knob down). Mirrors length(bin(n div cap)) exactly (bin(0) =
    * "0" has length 1 — invisible below the floor).
    */
  private[graft] def adaptiveTrieDepth(n: Long, cap: Int,
      floor: Int = TrieDepthFloor): Int = {
    val q = n / math.max(1, cap)
    val bl = if (q <= 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(q)
    math.max(floor, math.min(Planes, bl))
  }

  /** In-plan twin of [[adaptiveTrieDepth]] — Spark side: clamp(floor ..
    * [[Planes]], bitlength(`n` div `cap`)) over the count column `n`
    * (one value across rows — a broadcast 1-row count).
    */
  private[graft] def adaptiveDepthSpark(n: String, cap: Int,
      floor: Int): Column =
    greatest(lit(floor), least(lit(Planes),
      length(bin(expr(s"$n div $cap"))).cast("int")))

  /** In-plan twin of [[adaptiveTrieDepth]] — DuckDB side: the same clamp
    * over the count expression `n`.
    */
  private[graft] def adaptiveDepthDuck(n: String, cap: Int,
      floor: Int): String =
    s"GREATEST($floor, LEAST($Planes, length(to_base($n // $cap, 2))))"

  /** [[trieLeaf]] body over a frame already carrying its depth ceiling
    * as a `maxd` column (constant across rows) — the single definition
    * the fixed-depth and adaptive-depth entry points share.
    */
  private def trieLeafCore(sgd: DataFrame, cap: Int): DataFrame = {
    val lv = sgd.select(col("vec_id"), col("maxd"), explode(expr(
        """transform(sequence(4, maxd), dd ->
           struct(dd AS d, sig & (shiftleft(1L, dd) - 1) AS cell))"""))
        .as("x"))
      .select(col("vec_id"), col("maxd"), col("x.d").as("d"),
        col("x.cell").as("cell"))
    val occ = lv.groupBy(col("d"), col("cell"))
      .agg(count(lit(1)).as("n"))
    lv.join(occ, Seq("d", "cell"))
      .groupBy(col("vec_id"))
      .agg(min(when(col("n") <= cap,
          col("d").cast("long") * CellEncShift + col("cell"))).as("enc"),
        max(when(col("d") === col("maxd"), col("cell"))).as("cellMax"),
        first(col("maxd")).as("maxd"))
      .select(col("vec_id"),
        coalesce(expr(s"enc div ${CellEncShift}L"), col("maxd").cast("long"))
          .cast("int").as("depth"),
        coalesce(col("enc") % CellEncShift, col("cellMax")).as("cell"))
  }

  private[graft] def trieLeaf(sg: DataFrame, cap: Int,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 4 && maxDepth <= Planes)
    trieLeafCore(sg.withColumn("maxd", lit(maxDepth)), cap)
  }

  /** Adaptive-grain trie leaf — [[trieLeaf]] with the depth ceiling
    * derived from THIS input's count by [[adaptiveTrieDepth]] (computed
    * in-plan: the 1-row count broadcasts as a bounded scalar, q380's
    * n_total pattern), so the deployed grain deepens with the corpus
    * instead of pinning at 12. At every fixture SF the rule resolves to
    * the floor, so the (depth, cell) output — and every oracle reading
    * it — is unchanged; past ~2^12 * cap vectors the ceiling lifts and
    * over-cap "audited remainder" mass stays bounded (ScaleSpec guards
    * the fraction on growing synthetic corpora).
    */
  private[graft] def trieLeafAdaptive(sg: DataFrame, cap: Int,
      floor: Int = TrieDepthFloor): DataFrame = {
    val n = sg.agg(count(lit(1)).as("n_src"))
    trieLeafCore(sg.crossJoin(broadcast(n))
      .withColumn("maxd",
        adaptiveDepthSpark("n_src", math.max(1, cap), floor)), cap)
  }

  /** DuckDB mirror of [[trieLeafAdaptive]] at the q380 grain (cap =
    * CellOccupancy), expecting `sg(vec_id, sig)` in scope; emits
    * `leaf(vec_id, depth, cell)`. Shared by the q380/q391/q392/q394
    * oracles so the leaf rule cannot drift between them. Round 14: the
    * depth ceiling is the same adaptive clamp the Spark side computes
    * ([[adaptiveDepthDuck]] — identical to the floor at every fixture
    * SF), and the integer min-encoding moved from
    * 16-bit to the 48-bit [[CellEncShift]] so cells past depth 16 fit
    * (enc < 2^54, inside BIGINT).
    */
  private def duckTrieLeafCte: String =
    s"""tmd AS (SELECT ${adaptiveDepthDuck("COUNT(*)", CellOccupancy,
          TrieDepthFloor)} AS maxd FROM sg),
      lvr AS (SELECT vec_id, sig,
          unnest(range(4, maxd + 1)) AS d FROM sg, tmd),
      lv AS (SELECT vec_id, CAST(d AS BIGINT) AS d,
          sig & ((CAST(1 AS BIGINT) << d) - 1) AS cell
        FROM lvr),
      occ AS (SELECT d, cell, CAST(COUNT(*) AS BIGINT) AS n
        FROM lv GROUP BY 1, 2),
      pick AS (SELECT lv.vec_id,
          MIN(CASE WHEN occ.n <= $CellOccupancy
            THEN lv.d * (CAST(1 AS BIGINT) << $Planes) + lv.cell END)
            AS enc,
          MAX(CASE WHEN lv.d = tmd.maxd THEN lv.cell END) AS cellmx
        FROM lv JOIN occ ON occ.d = lv.d AND occ.cell = lv.cell, tmd
        GROUP BY 1),
      leaf AS (SELECT vec_id,
          CAST(COALESCE(enc // (CAST(1 AS BIGINT) << $Planes), maxd)
            AS INT) AS depth,
          COALESCE(enc % (CAST(1 AS BIGINT) << $Planes), cellmx) AS cell
        FROM pick, tmd)"""

  /** Semantic-dedup candidate pairs (kept < vec_id, plus the vectors) from
    * an `nPlanes`-bit sign-code cell assignment. The cell count (2^nPlanes)
    * is the scale knob: at a fixed corpus-per-cell occupancy target the
    * plane count grows with log(corpus), keeping per-vector candidate
    * counts flat — ScaleSpec asserts exactly that across the fixture
    * sizes. q98 pins nPlanes=4 so the oracle SQL can mirror the cells.
    */
  private[graft] def semCandidates(s: SparkSession, d: String,
      nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= Planes)
    val cellExpr = (0 until nPlanes)
      .map(p => s"IF(${projSpark(p)} >= 0, ${1 << p}, 0)").mkString(" + ")
    val c = quantized(s, d, withSig = false).withColumn("cell", expr(cellExpr))
    val a = c.select(col("vec_id").as("kept"), col("cell"),
      col("qv").as("qv_a"), col("nsq").as("nsq_a"))
    val b = c.select(col("vec_id"), col("cell").as("cell_b"),
      col("qv").as("qv_b"), col("nsq").as("nsq_b"))
    a.join(b, col("cell") === col("cell_b") && col("kept") < col("vec_id"))
  }

  /** Adaptive-occupancy cell target (q205/q207/q208): the sign-code
    * prefix length is chosen so cells hold ~this many vectors — the
    * q98 "plane count grows with log(corpus)" knob, but computed IN the
    * query from the corpus count with pure integer bit-length arithmetic
    * so the oracle mirrors it exactly at any SF. Cell-bounded self-joins
    * then grow LINEARLY with the corpus (occupancy² × cells ∝ n), not
    * quadratically as a fixed cell count would.
    */
  private[graft] val CellOccupancy = 32

  /** Quantized corpus with an adaptive sign-code cell: the 48-plane
    * signature masked to k = bitlength(n / CellOccupancy) low planes,
    * clamped to [1, Planes]. (The clamp tracked the signature width to
    * 48 in round 13 — identical cells at every SF where n <= 2^16 * cap,
    * i.e. all fixtures; the ceiling now binds at ~9e15 vectors.)
    */
  private def adaptiveCelled(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d, withSig = true)
    val n = base.agg(count(lit(1)).as("n_corpus"))
    base.crossJoin(broadcast(n))
      .withColumn("k", adaptiveDepthSpark("n_corpus", CellOccupancy, 1))
      .withColumn("cell", expr("sig & (shiftleft(1L, k) - 1)"))
      .select(col("vec_id"), col("qv"), col("nsq"), col("cell"))
  }

  /** Adaptive-cell CTE chain over an arbitrary `(vec_id, qv, nsq)`
    * relation `src` in scope — the sign-code prefix length k =
    * clamp(minK..Planes, bitlength(count(src) / CellOccupancy)) is
    * computed from THAT relation's count, so a stage running on a
    * survivor subset (q382's ladder) adapts to ITS size, not the
    * corpus'. `p` prefixes the CTE names; emits
    * `{p}cells(vec_id, qv, nsq, cell)`.
    */
  private[graft] def duckAdaptiveCellsFrom(src: String, p: String = "",
      minK: Int = 1): String =
    s"""${p}sg AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM $src),
       ${p}cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $src),
       ${p}kp AS (SELECT ${adaptiveDepthDuck("n", CellOccupancy, minK)} AS k
         FROM ${p}cn),
       ${p}cells AS (SELECT vec_id, qv, nsq,
           sig & ((CAST(1 AS BIGINT) << k) - 1) AS cell
         FROM ${p}sg, ${p}kp)"""

  /** DuckDB CTE chain mirroring [[adaptiveCelled]] (expects the
    * quantized CTEs in scope; emits `cells(vec_id, qv, nsq, cell)`).
    */
  private val duckAdaptiveCells: String = duckAdaptiveCellsFrom("en")

  /** IVF multi-probe candidates (q_id, vec_id, qv, nsq). */
  private[graft] def ivfCandidates(s: SparkSession, d: String): DataFrame = {
    val c = celled(s, d)
    val corpus = c.select(col("vec_id"), col("qv"), col("nsq"), col("cell"))
    val probes = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        explode(array(col("cell"),
          expr("cell ^ shiftleft(1, minj)"))).as("cell"))
    corpus.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("qv"), col("nsq"))
  }

  val all: Seq[QuerySpec] = Seq(

    // ---- brute-force cosine top-k (broadcast query set) -------------------
    QuerySpec(
      "q45_cosine_topk",
      Some(s"""WITH $duckQuantCte,
          q AS (${duckQuerySet("en")}),
          scored AS (SELECT q_id AS query_id, en.vec_id AS neighbor_id,
              ${qcosDuck("q_qv", "en.qv", "q_nsq", "en.nsq", Dims)}
                AS cosine
            FROM q JOIN en ON en.vec_id <> q_id)
          SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk FROM (
            ${duckTopK("scored", "query_id", "cosine", "neighbor_id")}) t"""),
      (s, d) => {
        val e = quantized(s, d, withSig = false)
        neighbors(e.join(broadcast(querySet(e)),
          col("vec_id") =!= col("q_id")))
      }),

    // ---- ANN: hyperplane-LSH signature buckets + exact re-rank ------------
    QuerySpec(
      "q46_ann_lsh",
      Some(s"""WITH $duckQuantCte,
          es AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
          bl AS (SELECT vec_id, j, (sig >> (4*j)) & 15 AS band
            FROM es, (SELECT unnest(range(0, 4)) AS j) z),
          q AS (SELECT vec_id AS q_id FROM embeddings
            WHERE vec_id < $NumQueries),
          cand AS (SELECT DISTINCT q.q_id, b.vec_id
            FROM q JOIN bl a ON a.vec_id = q.q_id
                   JOIN bl b ON b.j = a.j AND b.band = a.band
            WHERE b.vec_id <> q.q_id),
          scored AS (SELECT c.q_id AS query_id, c.vec_id AS neighbor_id,
              ${qcosDuck("x.qv", "y.qv", "x.nsq", "y.nsq", Dims)}
                AS cosine
            FROM cand c JOIN es x ON x.vec_id = c.q_id
                        JOIN es y ON y.vec_id = c.vec_id)
          SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk FROM (
            ${duckTopK("scored", "query_id", "cosine", "neighbor_id")}) t"""),
      (s, d) => {
        val e = quantized(s, d, withSig = true)
        neighbors(lshCandidates(s, d)
          .join(e, "vec_id")
          .join(broadcast(querySet(e)), "q_id"))
      }),

    // ---- ANN: IVF (coarse quantizer cells) + multi-probe exact re-rank -----
    // The other scale path the extension mandates: assign every corpus
    // vector to a coarse cell, probe each query's 2 most likely cells,
    // re-rank exactly inside the probed cells. The coarse quantizer is a
    // DETERMINISTIC 4-hyperplane sign code (16 cells) rather than k-means:
    // identical exact-integer math runs in both engines, so cells — and
    // therefore the candidate sets and the final top-k — hash-check
    // against the oracle (k-means centroids are not SQL-mirrorable).
    // Probe #2 is classic multi-probe: flip the bit of the LEAST-CONFIDENT
    // hyperplane (smallest |projection|), i.e. the neighboring cell the
    // query most plausibly belongs to.
    // At 100 TB the corpus is WRITTEN partitioned by cell, so the
    // cell-equality probe join prunes to ~2/16 of the data (partition
    // pruning); probes and the query set broadcast — the big side never
    // shuffles.
    QuerySpec(
      "q47_ann_ivf",
      Some(s"""WITH $duckCells4Cte,
          probes AS (SELECT vec_id AS q_id,
              unnest([cell, xor(cell, 1 << minj)]) AS cell
            FROM cells WHERE vec_id < $NumQueries),
          cand AS (SELECT p.q_id, c.vec_id, c.qv, c.nsq
            FROM probes p JOIN cells c ON c.cell = p.cell
            WHERE c.vec_id <> p.q_id),
          scored AS (SELECT c.q_id AS query_id, c.vec_id AS neighbor_id,
              ${qcosDuck("q.qv", "c.qv", "q.nsq", "c.nsq", Dims)}
                AS cosine
            FROM cand c JOIN cells q ON q.vec_id = c.q_id)
          SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk FROM (
            ${duckTopK("scored", "query_id", "cosine", "neighbor_id")}) t"""),
      (s, d) =>
        neighbors(ivfCandidates(s, d)
          .join(broadcast(querySet(celled(s, d))), "q_id"))),

    // ---- per-label embedding centroids (cluster statistics) ----------------
    // The centroid-computation pass of semantic clustering / IVF training
    // / class-prototype analysis: mean vector per label, one row per
    // (label, dimension). Plan: explode the quantized vectors and
    // hash-aggregate on (label, dim) — partial aggregation collapses each
    // partition to labels x dims rows before the shuffle, so the exchange
    // carries O(|labels| * dims) per partition regardless of corpus size.
    // Determinism: integer sums of quantized components are exact and
    // order-independent (|sum| <= corpus * 2e3 ~ 4e13 at 2e10 vectors,
    // within both BIGINT and double-exact range), and the /1000
    // dequantization folds into the single final IEEE divide.
    QuerySpec(
      "q59_label_centroids",
      Some(s"""WITH e AS (SELECT label,
            ${qvecDuck("embedding", Dims)} AS qv FROM embeddings),
          ex AS (SELECT label, u.dim AS dim, u.q AS q FROM (
              SELECT label, unnest([{'dim': CAST(i - 1 AS INT), 'q': qv[i]}
                for i in range(1, ${Dims + 1})]) AS u
            FROM e) z)
        SELECT label, dim, COUNT(*) AS n_vecs,
          CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / (COUNT(*) * 1000)
            AS centroid
        FROM ex GROUP BY label, dim"""),
      (s, d) =>
        t(s, d, "embeddings")
          .select(col("label"), expr(qvecSpark("embedding")).as("qv"))
          .select(col("label"), posexplode(col("qv")).as(Seq("dim", "q")))
          .groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sq"))
          .select(col("label"), col("dim"), col("n_vecs"),
            (col("sq").cast("double") / (col("n_vecs") * 1000))
              .as("centroid"))),

    // ---- semantic dedup (SemDeDup-shaped: cluster, then prune in-cluster) --
    // The embedding-space analog of near-dup removal (Abbas et al. 2023,
    // "SemDeDup"): assign every vector to a coarse cluster, compare pairs
    // only WITHIN a cluster, and drop each vector that has a
    // sufficiently-similar predecessor — keeping the lowest vec_id as the
    // cluster-local canonical. The cluster stage here is the same
    // deterministic 4-hyperplane quantizer as q47 (k-means is not
    // SQL-mirrorable), so cells, candidate pairs, and verdicts all
    // hash-match the oracle bit-for-bit.
    // 100 TB plan: one shuffle of the (cached) quantized projection on
    // `cell`; pair count is Σ n_cell² — bounded by cell granularity, which
    // scales with the plane count (cells = 2^planes, chosen so occupancy
    // stays flat as the corpus grows; the fixture's 16 cells play the role
    // of k ≈ √n). ScaleSpec guards the candidate growth empirically.
    QuerySpec(
      "q98_semantic_dedup",
      Some(s"""WITH $duckCells4Cte,
          pairs AS (SELECT a.vec_id AS kept, b.vec_id AS dropped,
              b.cell AS cell
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", Dims)}
                >= $SemThreshold)
          SELECT dropped AS vec_id, CAST(cell AS INT) AS cell,
            MIN(kept) AS dup_of, COUNT(*) AS n_closer
          FROM pairs GROUP BY dropped, cell"""),
      (s, d) =>
        semCandidates(s, d, nPlanes = 4)
          .filter(expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)")
            >= SemThreshold)
          .groupBy(col("vec_id"), col("cell"))
          .agg(min(col("kept")).as("dup_of"),
            count(lit(1)).as("n_closer"))
          .select(col("vec_id"), col("cell").cast("int").as("cell"),
            col("dup_of"), col("n_closer"))),

    // ---- k-NN majority-vote classification ----------------------------------
    // The label-propagation workhorse for weakly-labeled corpora: classify
    // each query vector by the majority label of its k exact-cosine
    // nearest neighbors in the labeled reference set (vec_id >= the query
    // range). Same broadcast-query / corpus-scan shape as q45 — the big
    // side never shuffles for the scoring; the per-query top-k window
    // partitions on query_id, and the vote runs over the k·|queries|-row
    // top-k table (bounded). Both tie-breaks are total orders: neighbors
    // on (cosine DESC, vec_id), votes on (count DESC, label ASC).
    QuerySpec(
      "q199_knn_classify",
      Some(s"""WITH $duckQuantCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          q AS (SELECT en.vec_id AS q_id, qv AS q_qv, nsq AS q_nsq,
              lab.label AS true_label
            FROM en JOIN lab ON lab.vec_id = en.vec_id
            WHERE en.vec_id < $NumQueries),
          scored AS (SELECT q_id, true_label, en.vec_id AS neighbor_id,
              ${qcosDuck("q_qv", "en.qv", "q_nsq", "en.nsq", Dims)}
                AS cosine
            FROM q JOIN en ON en.vec_id >= $NumQueries),
          top AS (${duckTopK("scored", "q_id", "cosine", "neighbor_id")}),
          votes AS (SELECT top.q_id, MAX(top.true_label) AS true_label,
              lab.label AS pred_label, CAST(COUNT(*) AS BIGINT) AS votes
            FROM top JOIN lab ON lab.vec_id = top.neighbor_id
            GROUP BY top.q_id, lab.label)
          SELECT q_id AS query_id, true_label, pred_label, votes FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY votes DESC, pred_label) AS vr FROM votes) v
          WHERE vr = 1"""),
      (s, d) => {
        val e = quantized(s, d, withSig = false)
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val q = e.filter(col("vec_id") < NumQueries)
          .join(lab, "vec_id")
          .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
            col("nsq").as("q_nsq"), col("label").as("true_label"))
        val top = topK(e.filter(col("vec_id") >= NumQueries)
          .join(broadcast(q))
          .withColumn("cosine", cosineCol)
          .select(col("q_id"), col("true_label"),
            col("vec_id").as("neighbor_id"), col("cosine")),
          Seq("q_id"), "cosine", "neighbor_id")
        val wVote = Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("pred_label"))
        top.join(lab.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "pred_label"), "neighbor_id")
          .groupBy(col("q_id"), col("pred_label"))
          .agg(max(col("true_label")).as("true_label"),
            count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .select(col("q_id").as("query_id"), col("true_label"),
            col("pred_label"), col("votes"))
      }),

    // ---- product-quantization codebook assignment ---------------------------
    // The IVF-PQ building block: split each 64-dim vector into 4
    // contiguous 16-dim subspaces and assign each sub-vector to its
    // nearest codeword by EXACT integer L2² over the quantized grid (the
    // codebook is the sub-vectors of a fixed seed-id range — the same
    // deployment-constant probe-set pattern as q45/q108, so it
    // broadcasts). argmin tie-breaks to the smaller codeword id via the
    // min-then-min two-step (no engine-specific arg_min semantics).
    // Output is the (subspace, code) OCCUPANCY table plus exact integer
    // distortion sums — the statistic a PQ trainer iterates on. 100 TB
    // shape: one corpus scan, 4× explode, broadcast codebook, one
    // partial-agg shuffle to the 32-row grain.
    QuerySpec(
      "q200_pq_assign",
      Some(s"""WITH $duckQuantCte,
          sub AS (SELECT vec_id, s, qv[s*16+1 : s*16+16] AS sq
            FROM en, (SELECT unnest(range(0, 4)) AS s) z),
          cb AS (SELECT vec_id AS cid, s, sq AS csq FROM sub
            WHERE vec_id < $PqCodes),
          dist AS (SELECT sub.vec_id, sub.s, cb.cid,
              CAST(list_sum([(sub.sq[i] - cb.csq[i])
                  * (sub.sq[i] - cb.csq[i])
                for i in range(1, 17)]) AS BIGINT) AS d2
            FROM sub JOIN cb ON cb.s = sub.s),
          mn AS (SELECT vec_id, s, MIN(d2) AS m FROM dist GROUP BY 1, 2),
          asg AS (SELECT dist.vec_id, dist.s, MIN(dist.cid) AS code,
              MIN(mn.m) AS m
            FROM dist JOIN mn ON mn.vec_id = dist.vec_id
              AND mn.s = dist.s AND dist.d2 = mn.m
            GROUP BY 1, 2)
          SELECT CAST(s AS INTEGER) AS s, code,
            CAST(COUNT(*) AS BIGINT) AS n_vectors,
            CAST(SUM(m) AS BIGINT) AS distortion
          FROM asg GROUP BY 1, 2"""),
      (s, d) => {
        val e = quantized(s, d, withSig = false)
        val sub = e.withColumn("s", explode(lit((0 until 4).toArray)))
          .withColumn("sq", expr("slice(qv, s * 16 + 1, 16)"))
          .select(col("vec_id"), col("s"), col("sq"))
        val cb = sub.filter(col("vec_id") < PqCodes)
          .select(col("vec_id").as("cid"), col("s"), col("sq").as("csq"))
        val dist = sub.join(broadcast(cb), "s")
          .withColumn("d2", expr(
            "aggregate(zip_with(sq, csq, (a, b) -> (a - b) * (a - b)), " +
              "0L, (acc, v) -> acc + v)"))
        val mn = dist.groupBy(col("vec_id"), col("s")).agg(min(col("d2"))
          .as("m"))
        dist.join(mn, Seq("vec_id", "s"))
          .filter(col("d2") === col("m"))
          .groupBy(col("vec_id"), col("s"))
          .agg(min(col("cid")).as("code"), min(col("m")).as("m"))
          .groupBy(col("s"), col("code"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("m")).cast("long").as("distortion"))
      }),

    // ---- intra-cell pairwise distance histogram -----------------------------
    // The embedding-space diagnostic behind IVF tuning: the distribution
    // of pairwise L2² distances WITHIN each coarse sign-code cell tells
    // you whether cells are tight (good recall at low probe count) or
    // smeared. All-pairs globally is quadratic; the cell prefix length
    // ADAPTS to the corpus count (bitlength(n/32), the q98 knob computed
    // in-query with portable integer arithmetic), so per-cell occupancy
    // stays ~constant and the pair count grows LINEARLY with the corpus
    // — the first cut of this query pinned 16 cells and measured 22×
    // wall at 10× data; the adaptive prefix is the fix. Distances are
    // exact integer L2² on the quantized grid; buckets are power-of-two
    // bit lengths (the q187 idiom — no float log anywhere).
    QuerySpec(
      "q205_pair_dist_hist",
      Some(s"""WITH $duckQuantCte,
          $duckAdaptiveCells,
          pairs AS (SELECT a.cell,
              CAST(list_sum([(a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])
                for i in range(1, ${Dims + 1})]) AS BIGINT) AS d2
            FROM cells a JOIN cells b
              ON b.cell = a.cell AND b.vec_id > a.vec_id)
          SELECT CAST(length(to_base(d2 + 1, 2)) AS BIGINT) AS bits,
            CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells,
            CAST(MIN(d2) AS BIGINT) AS min_d2,
            CAST(MAX(d2) AS BIGINT) AS max_d2
          FROM pairs GROUP BY 1"""),
      (s, d) => {
        val c = adaptiveCelled(s, d)
          .select(col("vec_id"), col("qv"), col("cell"))
        val a = c.select(col("cell"), col("vec_id").as("id_a"),
          col("qv").as("qv_a"))
        val b = c.select(col("cell"), col("vec_id").as("id_b"),
          col("qv").as("qv_b"))
        a.join(b, Seq("cell"))
          .filter(col("id_b") > col("id_a"))
          .withColumn("d2", expr(
            "aggregate(zip_with(qv_a, qv_b, (x, y) -> (x - y) * (x - y)), " +
              "0L, (acc, v) -> acc + v)"))
          .groupBy(length(bin(col("d2") + 1)).cast("long").as("bits"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("cell")).as("n_cells"),
            min(col("d2")).cast("long").as("min_d2"),
            max(col("d2")).cast("long").as("max_d2"))
      }),

    // ---- cell-bounded 1-NN confusion matrix ---------------------------------
    // The label-quality audit ("confident learning" style): classify
    // EVERY vector by its nearest same-cell neighbor's label and
    // cross-tabulate against its own label — off-diagonal mass is
    // mislabel/boundary signal. The kNN-join over the whole corpus is
    // what naive all-pairs can't do at 100 TB; bounding the neighbor
    // search to the ADAPTIVE sign-code cell (occupancy-targeted prefix,
    // same as q205) keeps the self-join linear in the corpus. Vectors alone
    // in their cell have no neighbor and drop identically on both
    // engines (inner join). Ties: (cosine DESC, vec_id ASC) — a total
    // order.
    QuerySpec(
      "q207_confusion_matrix",
      Some(s"""WITH $duckQuantCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          $duckAdaptiveCells,
          nn AS (SELECT * FROM (SELECT a.vec_id, b.vec_id AS nb,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY
                ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", Dims)} DESC,
                b.vec_id) AS rn
            FROM cells a JOIN cells b
              ON b.cell = a.cell AND b.vec_id <> a.vec_id) z
            WHERE rn = 1)
          SELECT la.label AS true_label, lb.label AS pred_label,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM nn JOIN lab la ON la.vec_id = nn.vec_id
            JOIN lab lb ON lb.vec_id = nn.nb
          GROUP BY 1, 2"""),
      (s, d) => {
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val c = adaptiveCelled(s, d)
        val a = c.select(col("cell"), col("vec_id"), col("qv").as("q_qv"),
          col("nsq").as("q_nsq"))
        val b = c.select(col("cell"), col("vec_id").as("nb"),
          col("qv"), col("nsq"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nb"))
        a.join(b, Seq("cell"))
          .filter(col("nb") =!= col("vec_id"))
          .withColumn("cosine", cosineCol)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(lab.withColumnRenamed("label", "true_label"), "vec_id")
          .join(lab.select(col("vec_id").as("nb"),
            col("label").as("pred_label")), "nb")
          .groupBy(col("true_label"), col("pred_label"))
          .agg(count(lit(1)).as("n"))
      }),

    // ---- per-class precision / recall / F1 ----------------------------------
    // The readout layer over q207's cell-bounded 1-NN assignment: exact
    // integer tp/fp/fn per class, then precision = tp/(tp+fp), recall =
    // tp/(tp+fn) and the SINGLE-DIVISION F1 form 2tp/(2tp+fp+fn) — one
    // correctly-rounded IEEE op each over exact longs, no intermediate
    // float accumulation anywhere. Classes the classifier never predicts
    // get precision NULL (0/0) via NULLIF on both engines.
    QuerySpec(
      "q208_class_metrics",
      Some(s"""WITH $duckQuantCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          $duckAdaptiveCells,
          nn AS (SELECT * FROM (SELECT a.vec_id, b.vec_id AS nb,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY
                ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", Dims)} DESC,
                b.vec_id) AS rn
            FROM cells a JOIN cells b
              ON b.cell = a.cell AND b.vec_id <> a.vec_id) z
            WHERE rn = 1),
          cm AS (SELECT la.label AS t, lb.label AS p,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM nn JOIN lab la ON la.vec_id = nn.vec_id
              JOIN lab lb ON lb.vec_id = nn.nb
            GROUP BY 1, 2),
          k AS (SELECT DISTINCT label FROM lab),
          m AS (SELECT k.label,
              CAST(COALESCE(SUM(CASE WHEN cm.t = k.label
                AND cm.p = k.label THEN cm.n END), 0) AS BIGINT) AS tp,
              CAST(COALESCE(SUM(CASE WHEN cm.p = k.label
                AND cm.t <> k.label THEN cm.n END), 0) AS BIGINT) AS fp,
              CAST(COALESCE(SUM(CASE WHEN cm.t = k.label
                AND cm.p <> k.label THEN cm.n END), 0) AS BIGINT) AS fn
            FROM k LEFT JOIN cm ON cm.t = k.label OR cm.p = k.label
            GROUP BY 1)
          SELECT label, tp, fp, fn,
            CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fp, 0) AS DOUBLE)
              AS precision,
            CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fn, 0) AS DOUBLE)
              AS recall,
            CAST(2 * tp AS DOUBLE)
              / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE) AS f1
          FROM m"""),
      (s, d) => {
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val c = adaptiveCelled(s, d)
        val a = c.select(col("cell"), col("vec_id"), col("qv").as("q_qv"),
          col("nsq").as("q_nsq"))
        val b = c.select(col("cell"), col("vec_id").as("nb"),
          col("qv"), col("nsq"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nb"))
        val cm = a.join(b, Seq("cell"))
          .filter(col("nb") =!= col("vec_id"))
          .withColumn("cosine", cosineCol)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(lab.withColumnRenamed("label", "t"), "vec_id")
          .join(lab.select(col("vec_id").as("nb"), col("label").as("p")),
            "nb")
          .groupBy(col("t"), col("p")).agg(count(lit(1)).as("n"))
        val k = lab.select(col("label")).distinct()
        val m = k.join(cm,
            cm("t") === k("label") || cm("p") === k("label"), "left")
          .groupBy(col("label"))
          .agg(
            coalesce(sum(when(col("t") === col("label")
              && col("p") === col("label"), col("n"))), lit(0L))
              .cast("long").as("tp"),
            coalesce(sum(when(col("p") === col("label")
              && col("t") =!= col("label"), col("n"))), lit(0L))
              .cast("long").as("fp"),
            coalesce(sum(when(col("t") === col("label")
              && col("p") =!= col("label"), col("n"))), lit(0L))
              .cast("long").as("fn"))
        m.select(col("label"), col("tp"), col("fp"), col("fn"),
          (col("tp").cast("double")
            / nullif(col("tp") + col("fp"), lit(0L)).cast("double"))
            .as("precision"),
          (col("tp").cast("double")
            / nullif(col("tp") + col("fn"), lit(0L)).cast("double"))
            .as("recall"),
          ((lit(2L) * col("tp")).cast("double")
            / nullif(lit(2L) * col("tp") + col("fp") + col("fn"), lit(0L))
              .cast("double")).as("f1"))
      }),

    // ---- int8 scalar quantization + reconstruction error -------------------
    // The vector-store compression step next to q200's product
    // quantization: per-dimension min/max scalar quantization to 8-bit
    // codes, with the reconstruction error accounted EXACTLY — all
    // arithmetic stays on the integer grid. code = (q-mn)*255 div
    // (mx-mn) (non-negative operands, so truncating division agrees in
    // both engines), and the per-dim residual is measured on the
    // 255-scaled grid: err = (q-mn)*255 - code*(mx-mn), giving integer
    // squared error with headroom |err| < mx-mn <= ~2e3 -> sum of 64
    // squares < 3e8, nowhere near int64. Output is the per-vector error
    // ledger a recall-regression gate consumes.
    // 100 TB plan: dim stats are one partial agg on the (dim) grain from
    // the exploded (vector x dim) view; the 64-row stats table broadcasts
    // back onto the same view (a true sub-aggregate broadcast); one
    // exchange to the vec grain re-assembles. Vector data shuffles once.
    QuerySpec(
      "q223_int8_quantize",
      Some(s"""WITH q AS (SELECT vec_id, ${qvecDuck("embedding", Dims)} AS q
            FROM embeddings),
          dims AS (SELECT unnest(range(1, ${Dims + 1})) AS i),
          ex AS (SELECT vec_id, i, q[i] AS qd FROM q, dims),
          st AS (SELECT i, CAST(MIN(qd) AS BIGINT) AS mn,
              CAST(MAX(qd) AS BIGINT) AS mx
            FROM ex GROUP BY 1),
          c AS (SELECT vec_id, ex.i,
              CASE WHEN mx = mn THEN 0
                ELSE ((qd - mn) * 255) // (mx - mn) END AS code,
              CASE WHEN mx = mn THEN 0
                ELSE (qd - mn) * 255 -
                  (((qd - mn) * 255) // (mx - mn)) * (mx - mn) END AS err
            FROM ex JOIN st ON st.i = ex.i)
          SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
            CAST(SUM(err * err) AS BIGINT) AS sq_err_grid
          FROM c GROUP BY 1"""),
      (s, d) => {
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), posexplode(expr(qvecSpark("embedding")))
            .as(Seq("i0", "qd")))
          .select(col("vec_id"), (col("i0") + 1).as("i"), col("qd"))
        val st = ex.groupBy(col("i"))
          .agg(min(col("qd")).as("mn"), max(col("qd")).as("mx"))
        ex.join(broadcast(st), Seq("i"))
          .withColumn("code", when(col("mx") === col("mn"), lit(0L))
            .otherwise(expr("(qd - mn) * 255 div (mx - mn)")))
          .withColumn("err", when(col("mx") === col("mn"), lit(0L))
            .otherwise((col("qd") - col("mn")) * 255
              - col("code") * (col("mx") - col("mn"))))
          .groupBy(col("vec_id"))
          .agg(sum(col("code")).cast("long").as("code_sum"),
            sum(col("err") * col("err")).cast("long").as("sq_err_grid"))
      }),

    // ---- ANN recall audit (LSH candidates vs exact top-k) ------------------
    // The QA metric every ANN deployment publishes: per query,
    // |approx top-k ∩ exact top-k| / k. Both lists come from the
    // EXISTING primitives (q45's broadcast brute-force, q46's LSH band
    // buckets + exact re-rank), so this measures the candidate
    // generator's recall, per query and exactly — integer hit counts,
    // one pinned divide. Zero-hit queries are zero-filled through the
    // left join from the bounded query set. 100 TB plan: the exact leg
    // is the one full-corpus pass (a fixed broadcast query set against
    // the corpus — the audit is SAMPLED by construction, NumQueries
    // deep); the approx leg and intersection are k-bounded.
    QuerySpec(
      "q322_ann_recall",
      Some(s"""WITH $duckQuantCte,
          q AS (${duckQuerySet("en")}),
          xsc AS (SELECT q_id AS query_id, en.vec_id AS neighbor_id,
              ${qcosDuck("q_qv", "en.qv", "q_nsq", "en.nsq", Dims)}
                AS cosine
            FROM q JOIN en ON en.vec_id <> q_id),
          xtop AS (SELECT query_id, neighbor_id FROM (
            ${duckTopK("xsc", "query_id", "cosine", "neighbor_id")}) t),
          es AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
          bl AS (SELECT vec_id, j, (sig >> (4*j)) & 15 AS band
            FROM es, (SELECT unnest(range(0, 4)) AS j) z),
          acand AS (SELECT DISTINCT q.q_id, b.vec_id
            FROM q JOIN bl a ON a.vec_id = q.q_id
                   JOIN bl b ON b.j = a.j AND b.band = a.band
            WHERE b.vec_id <> q.q_id),
          asc2 AS (SELECT c.q_id AS query_id, c.vec_id AS neighbor_id,
              ${qcosDuck("x.qv", "y.qv", "x.nsq", "y.nsq", Dims)}
                AS cosine
            FROM acand c JOIN es x ON x.vec_id = c.q_id
                         JOIN es y ON y.vec_id = c.vec_id),
          atop AS (SELECT query_id, neighbor_id FROM (
            ${duckTopK("asc2", "query_id", "cosine", "neighbor_id")}) t),
          hits AS (SELECT x.query_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM xtop x JOIN atop a ON a.query_id = x.query_id
              AND a.neighbor_id = x.neighbor_id
            GROUP BY 1)
          SELECT q.q_id AS query_id,
            CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hits,
            CAST(COALESCE(hits.n, 0) AS DOUBLE) / $K AS recall
          FROM q LEFT JOIN hits ON hits.query_id = q.q_id"""),
      (s, d) => {
        val e = quantized(s, d, withSig = true).cache()
        val q = querySet(e)
        val exact = neighbors(
          e.join(broadcast(q), col("vec_id") =!= col("q_id")))
          .select(col("query_id"), col("neighbor_id"))
        val approx = neighbors(lshCandidates(s, d)
          .join(e, "vec_id")
          .join(broadcast(q), "q_id"))
          .select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
            "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n"))
        q.select(col("q_id").as("query_id"))
          .join(broadcast(hits), Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n"), lit(0L)).as("n_hits"),
            (coalesce(col("n"), lit(0L)).cast("double") / K).as("recall"))
      }),

    // ---- per-label silhouette audit (embedding class separation) -----------
    // The embedding-QA question behind q59's centroids: do the labels
    // actually separate in embedding space? Per vector, cosine to its
    // OWN label's centroid vs the best OTHER label's centroid; per
    // label, the mean of both and the mean margin — the silhouette-
    // shaped readout an embedding pipeline checks before trusting
    // labels for curation. Cosine is scale-invariant, so the centroid
    // is represented by the label's exact integer SUM vector (no
    // division, no floats in the reduction): cos(x, S_g) == cos(x, mu_g)
    // bit-for-bit. Per-vec cosines are pinned sqrt-divide trees over
    // exact int64 dots/norms; label means ride the decimal grid.
    // 100 TB plan: one (label, dim) partial agg builds the |labels|
    // sum table, which BROADCASTS (bounded by the label vocabulary);
    // each vector then scores row-locally against all labels and one
    // |labels|-group rollup finishes. Overflow headroom: |S_g| <= n_g *
    // 2e3 per dim — past ~1e8 vectors/label the sum vector would be
    // rescaled (micro-mean ints; cosine invariant), documented here.
    QuerySpec(
      "q339_label_silhouette",
      Some(s"""WITH e AS (SELECT vec_id, label,
            ${qvecDuck("embedding", Dims)} AS qv FROM embeddings),
        ex AS (SELECT label, u.dim AS dim, u.q AS q FROM (
            SELECT label, unnest([{'dim': CAST(i - 1 AS INT), 'q': qv[i]}
              for i in range(1, ${Dims + 1})]) AS u
          FROM e) z),
        sg AS (SELECT label, list(sq ORDER BY dim) AS s FROM (
            SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sq
            FROM ex GROUP BY 1, 2) z GROUP BY label),
        sc AS (SELECT e.vec_id, e.label AS vlabel, sg.label AS clabel,
            CAST(list_sum([e.qv[i] * sg.s[i]
              for i in range(1, ${Dims + 1})]) AS BIGINT) AS dot,
            CAST(list_sum([e.qv[i] * e.qv[i]
              for i in range(1, ${Dims + 1})]) AS BIGINT) AS na,
            CAST(list_sum([sg.s[i] * sg.s[i]
              for i in range(1, ${Dims + 1})]) AS BIGINT) AS nb
          FROM e, sg),
        cs AS (SELECT vec_id, vlabel, clabel,
            ${cosDuck("dot", "na", "nb")} AS c
          FROM sc),
        pv AS (SELECT vec_id, ANY_VALUE(vlabel) AS label,
            MAX(CASE WHEN vlabel = clabel THEN c END) AS own_cos,
            MAX(CASE WHEN vlabel <> clabel THEN c END) AS best_other
          FROM cs GROUP BY vec_id)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          floor(${graft.functions.Exact.sqlDsum("own_cos")} / COUNT(*)
            * 1000000.0) / 1000000.0 AS mean_own_cos,
          floor(${graft.functions.Exact.sqlDsum("best_other")} / COUNT(*)
            * 1000000.0) / 1000000.0 AS mean_best_other,
          floor(${graft.functions.Exact.sqlDsum("own_cos - best_other")}
            / COUNT(*) * 1000000.0) / 1000000.0 AS mean_margin
        FROM pv GROUP BY label"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            expr(qvecSpark("embedding")).as("qv"))
          .cache() // feeds the label sums AND the scoring pass
        val sg = e
          .select(col("label"), posexplode(col("qv")).as(Seq("dim", "q")))
          .groupBy(col("label"), col("dim"))
          .agg(sum(col("q")).as("sq"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("dim"), col("sq"))))
            .as("ds"))
          .select(col("label").as("clabel"),
            expr("transform(ds, x -> x.sq)").as("s"))
        val cs = e.crossJoin(broadcast(sg)) // |labels|-row sum table
          .select(col("vec_id"), col("label").as("vlabel"), col("clabel"),
            expr("aggregate(zip_with(qv, s, (a, b) -> a * b), 0L, " +
              "(acc, v) -> acc + v)").as("dot"),
            expr("aggregate(qv, 0L, (a, v) -> a + v * v)").as("na"),
            expr("aggregate(s, 0L, (a, v) -> a + v * v)").as("nb"))
          .withColumn("c", col("dot").cast("double")
            / (sqrt(col("na").cast("double"))
              * sqrt(col("nb").cast("double"))))
        val pv = cs.groupBy(col("vec_id"))
          .agg(first(col("vlabel")).as("label"),
            max(when(col("vlabel") === col("clabel"), col("c")))
              .as("own_cos"),
            max(when(col("vlabel") =!= col("clabel"), col("c")))
              .as("best_other"))
        pv.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            (floor(graft.functions.Exact.dsum(col("own_cos"))
              / count(lit(1)) * lit(1000000.0)) / lit(1000000.0))
              .as("mean_own_cos"),
            (floor(graft.functions.Exact.dsum(col("best_other"))
              / count(lit(1)) * lit(1000000.0)) / lit(1000000.0))
              .as("mean_best_other"),
            (floor(graft.functions.Exact.dsum(
              col("own_cos") - col("best_other"))
              / count(lit(1)) * lit(1000000.0)) / lit(1000000.0))
              .as("mean_margin"))
      }),

    // ---- hard-negative mining (contrastive-pair selection) -----------------
    // The pair-mining step of contrastive embedding training: for each
    // anchor in the query set, the hardest negatives are the vectors
    // MOST similar to the anchor while carrying a DIFFERENT label —
    // random negatives teach a model nothing once it separates easy
    // pairs. Candidates come from the q46 hyperplane-LSH band buckets
    // (a vector can only be "hard" if it is close, and close vectors
    // collide on bands — the same recall argument as ANN), filtered to
    // label mismatch, exact-cosine re-ranked, top-3 per anchor. At
    // 100 TB the shape is q46's: bucket keys shuffle, the anchor set
    // broadcasts, per-anchor top-k is a window over candidate rows only
    // — no corpus-sized window, no all-pairs.
    QuerySpec(
      "q350_hard_negatives",
      Some(s"""WITH $duckQuantCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          es AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
          bl AS (SELECT vec_id, j, (sig >> (4*j)) & 15 AS band
            FROM es, (SELECT unnest(range(0, 4)) AS j) z),
          q AS (SELECT vec_id AS q_id FROM embeddings
            WHERE vec_id < $NumQueries),
          cand AS (SELECT DISTINCT q.q_id, b.vec_id
            FROM q JOIN bl a ON a.vec_id = q.q_id
                   JOIN bl b ON b.j = a.j AND b.band = a.band
            WHERE b.vec_id <> q.q_id),
          lc AS (SELECT c.q_id, c.vec_id,
              la.label AS label_q, lb.label AS label_n
            FROM cand c JOIN lab la ON la.vec_id = c.q_id
                        JOIN lab lb ON lb.vec_id = c.vec_id
            WHERE la.label <> lb.label),
          scored AS (SELECT c.q_id AS query_id, c.vec_id AS neighbor_id,
              c.label_q, c.label_n,
              ${qcosDuck("x.qv", "y.qv", "x.nsq", "y.nsq", Dims)}
                AS cosine
            FROM lc c JOIN es x ON x.vec_id = c.q_id
                      JOIN es y ON y.vec_id = c.vec_id)
          SELECT query_id, neighbor_id, label_q, label_n, cosine,
            CAST(rk AS INT) AS rk FROM (${duckTopK("scored", "query_id",
              "cosine", "neighbor_id", HardNegK)}) t"""),
      (s, d) => {
        val e = quantized(s, d, withSig = true)
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val labQ = lab.select(col("vec_id").as("q_id"),
          col("label").as("label_q"))
        topK(lshCandidates(s, d)
          .join(e, "vec_id").join(lab, "vec_id")
          .join(broadcast(querySet(e)), "q_id")
          .join(broadcast(labQ), "q_id")
          .filter(col("label") =!= col("label_q"))
          .withColumn("cosine", cosineCol)
          .select(col("q_id").as("query_id"),
            col("vec_id").as("neighbor_id"),
            col("label_q"), col("label").as("label_n"), col("cosine")),
          Seq("query_id"), "cosine", "neighbor_id", HardNegK)
      }),

    // ---- IVF nprobe planning (recall-vs-probes curve) ----------------------
    // The cost knob of every IVF index at 100 TB is nprobe: each extra
    // probed cell is another partition scanned per query. This audit
    // measures what each probe BUYS on this corpus: for every query, the
    // full multi-probe order is the own cell followed by single-plane
    // flips in ascending confidence (|projection|) order — probe rank 0
    // is the own cell, rank k flips the k-th least-confident hyperplane
    // — and the query's rank is where its TRUE exact-top-1 neighbor's
    // cell appears in that order (5 = unreachable by single flips, i.e.
    // the true neighbor differs in >= 2 code bits). The cumulative
    // recall curve over ranks is the evidence for choosing q47's
    // nprobe=2 (or raising it). All integer cell math; the probe order
    // sorts exact |projection| longs with a plane-index tie-break, so
    // both engines agree bit-for-bit. Shape: exact top-1 reuses q45's
    // broadcast-query scan; everything after is per-query row-local
    // plus a 6-row rollup (the cum window reads the rank-grain
    // aggregate, never data).
    QuerySpec(
      "q351_ivf_nprobe_planning",
      Some(s"""WITH $duckCells4Cte,
          $duckProbeList4,
          t1sc AS (SELECT q.q_id, c.vec_id AS neighbor_id,
              ${qcosDuck("q.q_qv", "c.qv", "q.q_nsq", "c.nsq", Dims)}
                AS cosine
            FROM pl q JOIN cells c ON c.vec_id <> q.q_id),
          t1 AS (SELECT q_id, neighbor_id AS top1_id FROM (
            ${duckTopK("t1sc", "q_id", "cosine", "neighbor_id", 1)}) t),
          tc AS (SELECT t1.q_id, cells.cell AS t_cell
            FROM t1 JOIN cells ON cells.vec_id = t1.top1_id),
          rk AS (SELECT pls.q_id,
              CASE WHEN COALESCE(list_position(plist, t_cell), 0) = 0
                THEN 5 ELSE list_position(plist, t_cell) - 1 END AS rank
            FROM pls JOIN tc USING (q_id)),
          br AS (SELECT rank, CAST(COUNT(*) AS BIGINT) AS n_queries
            FROM rk GROUP BY 1),
          tt AS (SELECT CAST(SUM(n_queries) AS BIGINT) AS total FROM br)
          SELECT CAST(rank AS INT) AS rank, n_queries,
            CAST(SUM(n_queries) OVER (ORDER BY rank) * 1000000 // total
              AS BIGINT) AS cum_recall_ppm
          FROM br, tt"""),
      (s, d) => {
        val c = celled(s, d).cache()
        val top1 = topK(c.select(col("vec_id"), col("qv"), col("nsq"))
            .join(broadcast(querySet(c)), col("vec_id") =!= col("q_id"))
            .withColumn("cosine", cosineCol),
          Seq("q_id"), "cosine", "vec_id", 1)
          .select(col("q_id"), col("vec_id").as("top1_id"))
        val tc = top1.join(
          c.select(col("vec_id").as("top1_id"), col("cell").as("t_cell")),
          "top1_id")
        val br = probeList4(c).join(tc, "q_id")
          .withColumn("pos", expr("array_position(plist, t_cell)"))
          .withColumn("rank",
            when(col("pos") === 0, lit(5)).otherwise(col("pos") - 1)
              .cast("int"))
          .groupBy(col("rank")).agg(count(lit(1)).as("n_queries"))
        val tt = br.agg(sum(col("n_queries")).as("total"))
        br.withColumn("cum_n",
            sum(col("n_queries")).over(Window.orderBy(col("rank"))))
          .crossJoin(broadcast(tt)) // 1-row total
          .select(col("rank"), col("n_queries"),
            expr("cum_n * 1000000 div total").as("cum_recall_ppm"))
      }),

    // ---- SemDeDup epsilon sweep (the q336 discipline, embedding-space) -----
    // The threshold q98 prunes at decides how aggressive semantic dedup
    // is, and the right value is corpus-specific. This sweep scores the
    // SAME cell-bounded candidate pairs once (exact quantized cosine)
    // and reports, per candidate threshold, how many in-cell pairs
    // qualify and how many vectors a keep-lowest-id prune would remove
    // — the yield curve a curation owner reads before fixing epsilon
    // (q336 is the identical audit for MinHash Jaccard). Shape: one
    // cell-keyed self-join (occupancy-bounded, ScaleSpec-guarded via
    // q98's shared generator), cosine computed once, a 5-way threshold
    // explode on the pair grain, one bounded rollup.
    QuerySpec(
      "q353_semdedup_eps_sweep",
      Some(s"""WITH $duckCells4Cte,
          pairs AS (SELECT a.vec_id AS kept, b.vec_id AS dropped,
              ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", Dims)}
                AS c
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id)
          SELECT t AS threshold_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(COUNT(DISTINCT dropped) AS BIGINT) AS n_removed
          FROM pairs CROSS JOIN (SELECT unnest([30, 40, 50, 60, 70]) AS t) z
          WHERE c >= CAST(t AS DOUBLE) / 100.0
          GROUP BY t"""),
      (s, d) =>
        semCandidates(s, d, nPlanes = 4)
          .withColumn("c", expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)"))
          .select(col("kept"), col("vec_id"), col("c"),
            explode(lit(Array(30, 40, 50, 60, 70))).as("t"))
          .filter(col("c") >= col("t").cast("double") / 100.0)
          .groupBy(col("t").as("threshold_pct"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("vec_id")).as("n_removed"))),

    // ---- incremental semantic dedup (new batch vs embedding index) ---------
    // The daily-crawl shape for EMBEDDING-space dedup (q324 is its
    // MinHash twin): a new vector batch (vec_id >= 250, the q324 batch
    // convention) probes the existing corpus index on the coarse-cell
    // key only — old x old pairs never materialize, so per-batch cost
    // scales with the batch times cell occupancy, not with the corpus
    // squared. Each new vector is admitted iff no indexed vector in its
    // cell reaches the q98 threshold; rejects carry their canonical
    // (min-id) duplicate and the match count for triage. LEFT join keeps
    // admitted vectors in the output (the decision list IS the
    // deliverable). At sf0.001 the batch is empty and both engines agree
    // on the empty result — same convention as q324.
    QuerySpec(
      "q354_incremental_semdedup",
      Some(s"""WITH $duckCells4Cte,
          g AS (SELECT n.vec_id, n.cell, MIN(o.vec_id) AS dup_of,
              CAST(COUNT(o.vec_id) AS BIGINT) AS n_matches
            FROM cells n LEFT JOIN cells o
              ON o.cell = n.cell AND o.vec_id < 250
                AND ${qcosDuck("n.qv", "o.qv", "n.nsq", "o.nsq", Dims)}
                  >= $SemThreshold
            WHERE n.vec_id >= 250
            GROUP BY 1, 2)
          SELECT vec_id, CAST(cell AS INT) AS cell,
            (n_matches = 0) AS admitted, dup_of, n_matches
          FROM g"""),
      (s, d) => {
        // ONE cell definition shared with the streaming twin — see
        // quantCell4's header.
        val c = quantCell4(t(s, d, "embeddings")).cache()
        val n = c.filter(col("vec_id") >= 250)
          .select(col("vec_id"), col("cell"),
            col("qv").as("qv_n"), col("nsq").as("nsq_n"))
        val o = c.filter(col("vec_id") < 250)
          .select(col("vec_id").as("old_id"), col("cell").as("cell_o"),
            col("qv").as("qv_o"), col("nsq").as("nsq_o"))
        n.join(o, col("cell") === col("cell_o")
            && expr("qcosine(qv_n, qv_o, nsq_n, nsq_o)") >= SemThreshold,
            "left")
          .groupBy(col("vec_id"), col("cell"))
          .agg(min(col("old_id")).as("dup_of"),
            count(col("old_id")).as("n_matches"))
          .select(col("vec_id"), col("cell").cast("int").as("cell"),
            (col("n_matches") === 0).as("admitted"),
            col("dup_of"), col("n_matches"))
      }),

    // ---- PQ ADC recall + bias audit (q200's approximation, measured) -------
    // q322 audits the LSH candidate stage; this audits the PQ DISTANCE
    // approximation: per query, rank the whole corpus by the asymmetric
    // (LUT) distance — sum over subspaces of L2²(query sub-vector,
    // assigned codeword) — and report recall@$K against the exact-L2²
    // top-k plus the signed total ADC bias (ADC minus exact, summed over
    // all scored pairs; exact int64, headroom ~1e17 at 1e8 vectors).
    // 100 TB shape: the codebook (32 sub-vectors), the query set (10)
    // and the 320-row LUT all broadcast; per-corpus-row work is the 4-way
    // code assignment plus one LUT lookup per subspace; the only
    // corpus-sized exchanges are the (vec,s)-grain argmin and the
    // (q,vec)-keyed join of the two distance legs; top-k windows
    // partition per query.
    QuerySpec(
      "q355_pq_adc_recall",
      Some(s"""WITH $duckQuantCte,
          sub AS (SELECT vec_id, s, qv[s*16+1 : s*16+16] AS sq
            FROM en, (SELECT unnest(range(0, 4)) AS s) z),
          cb AS (SELECT vec_id AS cid, s, sq AS csq FROM sub
            WHERE vec_id < $PqCodes),
          dist AS (SELECT sub.vec_id, sub.s, cb.cid,
              CAST(list_sum([(sub.sq[i] - cb.csq[i])
                  * (sub.sq[i] - cb.csq[i])
                for i in range(1, 17)]) AS BIGINT) AS d2
            FROM sub JOIN cb ON cb.s = sub.s),
          mn AS (SELECT vec_id, s, MIN(d2) AS m FROM dist GROUP BY 1, 2),
          asg AS (SELECT dist.vec_id, dist.s, MIN(dist.cid) AS code
            FROM dist JOIN mn ON mn.vec_id = dist.vec_id
              AND mn.s = dist.s AND dist.d2 = mn.m
            GROUP BY 1, 2),
          lut AS (SELECT q.vec_id AS q_id, q.s, cb.cid,
              CAST(list_sum([(q.sq[i] - cb.csq[i]) * (q.sq[i] - cb.csq[i])
                for i in range(1, 17)]) AS BIGINT) AS ld2
            FROM sub q JOIN cb ON cb.s = q.s
            WHERE q.vec_id < $NumQueries),
          adc AS (SELECT lut.q_id, asg.vec_id,
              CAST(SUM(lut.ld2) AS BIGINT) AS adc_d2
            FROM asg JOIN lut ON lut.s = asg.s AND lut.cid = asg.code
            WHERE asg.vec_id <> lut.q_id
            GROUP BY 1, 2),
          ex AS (SELECT q.vec_id AS q_id, en.vec_id,
              CAST(list_sum([(q.qv[i] - en.qv[i]) * (q.qv[i] - en.qv[i])
                for i in range(1, ${Dims + 1})]) AS BIGINT) AS d2
            FROM en q JOIN en ON en.vec_id <> q.vec_id
            WHERE q.vec_id < $NumQueries),
          bo AS (SELECT ex.q_id, ex.vec_id, ex.d2, adc.adc_d2,
              row_number() OVER (PARTITION BY ex.q_id
                ORDER BY ex.d2, ex.vec_id) AS rk_exact,
              row_number() OVER (PARTITION BY ex.q_id
                ORDER BY adc.adc_d2, ex.vec_id) AS rk_adc
            FROM ex JOIN adc ON adc.q_id = ex.q_id
              AND adc.vec_id = ex.vec_id)
          SELECT q_id AS query_id,
            CAST(COALESCE(SUM(CASE WHEN rk_exact <= $K AND rk_adc <= $K
              THEN 1 END), 0) AS BIGINT) AS n_hits,
            CAST(COALESCE(SUM(CASE WHEN rk_exact <= $K AND rk_adc <= $K
              THEN 1 END), 0) AS DOUBLE) / $K AS recall,
            CAST(SUM(adc_d2 - d2) AS BIGINT) AS adc_bias
          FROM bo GROUP BY 1"""),
      (s, d) => {
        val l2 = (a: String, b: String) =>
          expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
            "0L, (acc, v) -> acc + v)")
        val e = quantized(s, d, withSig = false)
        val sub = e.withColumn("s", explode(lit((0 until 4).toArray)))
          .withColumn("sq", expr("slice(qv, s * 16 + 1, 16)"))
          .select(col("vec_id"), col("s"), col("sq"))
        val cb = sub.filter(col("vec_id") < PqCodes)
          .select(col("vec_id").as("cid"), col("s"), col("sq").as("csq"))
        val dist = sub.join(broadcast(cb), "s")
          .withColumn("d2", l2("sq", "csq"))
        val asg = dist
          .join(dist.groupBy(col("vec_id"), col("s"))
            .agg(min(col("d2")).as("m")), Seq("vec_id", "s"))
          .filter(col("d2") === col("m"))
          .groupBy(col("vec_id"), col("s")).agg(min(col("cid")).as("code"))
        val lut = sub.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("s"), col("sq").as("qsq"))
          .join(cb, "s")
          .withColumn("ld2", l2("qsq", "csq"))
          .select(col("q_id"), col("s"), col("cid"), col("ld2"))
        val adc = asg
          .join(broadcast(lut),
            asg("s") === lut("s") && col("code") === col("cid"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum(col("ld2")).cast("long").as("adc_d2"))
        val q = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
        val ex = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .withColumn("d2", l2("qv", "q_qv"))
          .select(col("q_id"), col("vec_id"), col("d2"))
        val wE = Window.partitionBy(col("q_id"))
          .orderBy(col("d2"), col("vec_id"))
        val wA = Window.partitionBy(col("q_id"))
          .orderBy(col("adc_d2"), col("vec_id"))
        ex.join(adc, Seq("q_id", "vec_id"))
          .withColumn("rk_exact", row_number().over(wE))
          .withColumn("rk_adc", row_number().over(wA))
          .groupBy(col("q_id").as("query_id"))
          .agg(
            coalesce(sum(when(col("rk_exact") <= K && col("rk_adc") <= K,
              1L)), lit(0L)).as("n_hits"),
            (coalesce(sum(when(col("rk_exact") <= K && col("rk_adc") <= K,
              1L)), lit(0L)).cast("double") / K).as("recall"),
            sum(col("adc_d2") - col("d2")).cast("long").as("adc_bias"))
      }),

    // ---- k-means refinement churn (IVF index-maintenance audit) ------------
    // q108 runs one Lloyd step; this measures what that step COSTS an
    // IVF index built on the old centroids: re-derive the step-1
    // centroids, re-assign every vector, and report per initial cell how
    // many members move (churn ppm) and the occupancy drift — the
    // metric that decides whether to rebuild posting lists after a
    // refinement. Determinism: the step-1 centroid is the exact integer
    // per-cell SUM quantized to the milli-grid by sign-pinned truncating
    // division (same documented deployment quantization as q223's int8)
    // — every distance afterwards is exact int64 on the 1000x grid.
    // 100 TB shape: both assignment passes are broadcast-10-centroid
    // row-local argmins (q108's min-struct partial-agg discipline); the
    // only corpus-sized exchanges are the vec-keyed a0-join and the
    // (cell, dim) partial-agg sum; everything after is 10-row grain.
    QuerySpec(
      "q356_kmeans_churn",
      Some(s"""WITH $duckQuantCte,
          $duckLloydCtes,
          churn AS (SELECT a0.cid,
              CAST(COUNT(*) AS BIGINT) AS n_before,
              CAST(SUM(CASE WHEN a1.cid <> a0.cid THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_out
            FROM a0 JOIN a1 USING (vec_id) GROUP BY 1),
          occ1 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_after
            FROM a1 GROUP BY 1)
          SELECT churn.cid, churn.n_before, churn.n_moved_out,
            CAST((churn.n_moved_out * 1000000) // churn.n_before
              AS BIGINT) AS moved_ppm,
            CAST(COALESCE(occ1.n_after, 0) AS BIGINT) AS n_after
          FROM churn LEFT JOIN occ1 ON occ1.cid = churn.cid"""),
      (s, d) => {
        val (_, a0, a1) = lloydAssigns(s, d)
        val churn = a0.join(a1, "vec_id")
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_before"),
            sum(when(col("cid1") =!= col("cid"), 1L).otherwise(0L))
              .as("n_moved_out"))
        val occ1 = a1.groupBy(col("cid1").as("cid"))
          .agg(count(lit(1)).as("n_after"))
        churn.join(broadcast(occ1), Seq("cid"), "left")
          .select(col("cid"), col("n_before"), col("n_moved_out"),
            expr("(n_moved_out * 1000000) div n_before").as("moved_ppm"),
            coalesce(col("n_after"), lit(0L)).as("n_after"))
      }),

    // ---- int8 rerank fidelity (Kendall tau vs the exact ranking) -----------
    // q355 audits recall (set overlap); this audits ORDER: within each
    // query's exact-cosine top-20, re-rank by the raw int8-code dot
    // (q223's per-dim min-max quantization — the cheap dot-product
    // ranker a compressed vector store actually serves) and report
    // Kendall tau as exact integer concordant/discordant pair counts
    // over the C(20,2) pairs. Everything is integer: codes 0..255,
    // code dot <= 64 * 255² ≈ 4.2e6, tau on the milli grid by
    // truncating division. 100 TB shape: the 64-row per-dim stats and
    // the 10-query set broadcast; code arrays are one corpus-grain
    // (vec, dim) partial agg; the pair stage is k²-bounded per query
    // (190 pairs), never corpus-sized.
    QuerySpec(
      "q359_int8_rank_fidelity",
      Some(s"""WITH $duckQuantCte,
          ex AS (SELECT vec_id, u.i AS i, u.qd AS qd FROM (
              SELECT vec_id, unnest([{'i': CAST(i AS INT), 'qd': qv[i]}
                for i in range(1, ${Dims + 1})]) AS u
            FROM en) z),
          st AS (SELECT i, CAST(MIN(qd) AS BIGINT) AS mn,
              CAST(MAX(qd) AS BIGINT) AS mx
            FROM ex GROUP BY 1),
          cd AS (SELECT vec_id, ex.i,
              CASE WHEN mx = mn THEN 0
                ELSE ((qd - mn) * 255) // (mx - mn) END AS code
            FROM ex JOIN st ON st.i = ex.i),
          carr AS (SELECT vec_id, list(code ORDER BY i) AS ca
            FROM cd GROUP BY 1),
          q AS (${duckQuerySet("en")}),
          xsc AS (SELECT q_id, en.vec_id,
              ${qcosDuck("q_qv", "en.qv", "q_nsq", "en.nsq", Dims)}
                AS cosine
            FROM q JOIN en ON en.vec_id <> q_id),
          top AS (SELECT q_id, vec_id, rk AS rk_exact FROM (
            ${duckTopK("xsc", "q_id", "cosine", "vec_id", 20)}) t),
          sc8 AS (SELECT t.q_id, t.vec_id, t.rk_exact,
              list_sum([a.ca[i] * b.ca[i]
                for i in range(1, ${Dims + 1})]) AS c8
            FROM top t JOIN carr a ON a.vec_id = t.q_id
                        JOIN carr b ON b.vec_id = t.vec_id),
          rr AS (SELECT q_id, vec_id, rk_exact,
              row_number() OVER (PARTITION BY q_id
                ORDER BY c8 DESC, vec_id) AS rk8
            FROM sc8),
          pairs AS (SELECT a.q_id,
              CASE WHEN a.rk8 < b.rk8 THEN 1 ELSE 0 END AS conc
            FROM rr a JOIN rr b ON b.q_id = a.q_id
              AND a.rk_exact < b.rk_exact)
          SELECT q_id AS query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(conc) AS BIGINT) AS n_concordant,
            CAST(COUNT(*) - SUM(conc) AS BIGINT) AS n_discordant,
            CAST(CASE WHEN COUNT(*) = 0 THEN 0
              WHEN 2 * SUM(conc) >= COUNT(*)
                THEN ((2 * SUM(conc) - COUNT(*)) * 1000) // COUNT(*)
              ELSE -(((COUNT(*) - 2 * SUM(conc)) * 1000) // COUNT(*)) END
              AS BIGINT) AS tau_milli
          FROM pairs GROUP BY 1"""),
      (s, d) => {
        val en = quantized(s, d, withSig = false)
        val ex = en
          .select(col("vec_id"), posexplode(col("qv")).as(Seq("i0", "qd")))
          .select(col("vec_id"), (col("i0") + 1).as("i"), col("qd"))
        val st = ex.groupBy(col("i"))
          .agg(min(col("qd")).as("mn"), max(col("qd")).as("mx"))
        val carr = ex.join(broadcast(st), Seq("i"))
          .withColumn("code", when(col("mx") === col("mn"), lit(0L))
            .otherwise(expr("(qd - mn) * 255 div (mx - mn)")))
          .groupBy(col("vec_id"))
          .agg(expr("transform(array_sort(collect_list(struct(i, code)))," +
            " x -> x.code)").as("ca"))
        val top = topK(en.join(broadcast(querySet(en)),
            col("vec_id") =!= col("q_id"))
          .withColumn("cosine", cosineCol),
          Seq("q_id"), "cosine", "vec_id", 20, "rk_exact")
          .select(col("q_id"), col("vec_id"), col("rk_exact"))
        val sc8 = top
          .join(carr.select(col("vec_id").as("q_id"), col("ca").as("qa")),
            "q_id")
          .join(carr.select(col("vec_id"), col("ca").as("na")), "vec_id")
          .withColumn("c8", expr(
            "aggregate(zip_with(qa, na, (x, y) -> x * y), 0L, " +
              "(acc, v) -> acc + v)"))
        val w8 = Window.partitionBy(col("q_id"))
          .orderBy(col("c8").desc, col("vec_id"))
        val rr = sc8.withColumn("rk8", row_number().over(w8))
          .select(col("q_id"), col("rk_exact"), col("rk8"))
        val a = rr.select(col("q_id"), col("rk_exact").as("re_a"),
          col("rk8").as("r8_a"))
        val b = rr.select(col("q_id").as("q_id_b"),
          col("rk_exact").as("re_b"), col("rk8").as("r8_b"))
        a.join(b, col("q_id") === col("q_id_b")
            && col("re_a") < col("re_b"))
          .select(col("q_id"),
            when(col("r8_a") < col("r8_b"), 1L).otherwise(0L).as("conc"))
          .groupBy(col("q_id").as("query_id"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("conc")).as("n_concordant"),
            (count(lit(1)) - sum(col("conc"))).as("n_discordant"),
            when(count(lit(1)) === 0, 0L)
              .when(lit(2) * sum(col("conc")) >= count(lit(1)), expr(
                "((2 * sum(conc) - count(1)) * 1000) div count(1)"))
              .otherwise(-expr(
                "((count(1) - 2 * sum(conc)) * 1000) div count(1)"))
              .as("tau_milli"))
      }),

    // ---- retrieval stability across an index refresh -----------------------
    // What q356's churn COSTS the serving layer: for each query, the
    // nprobe=1 IVF top-5 (own cell only, exact cosine rerank) under
    // the seed index (a0) vs the refreshed index (a1) — how many
    // results survive, as a Jaccard on the milli grid. A query whose
    // own cell changes or whose cell membership churns loses results;
    // this is the SLA-facing readout that decides whether an index
    // refresh ships incrementally or atomically. 100 TB shape: both
    // retrieval legs are cell-equi joins against the 10-row broadcast
    // query-cell table; top-5 windows partition per query; the final
    // compare is k-bounded per query.
    QuerySpec(
      "q369_refresh_stability",
      Some(s"""WITH $duckQuantCte,
          $duckLloydCtes,
          q0 AS (SELECT a0.vec_id AS q_id, a0.cid FROM a0
            WHERE a0.vec_id < $NumQueries),
          q1 AS (SELECT a1.vec_id AS q_id, a1.cid FROM a1
            WHERE a1.vec_id < $NumQueries),
          s0 AS (SELECT q0.q_id, a0.vec_id,
              ${qcosDuck("qe.qv", "ne.qv", "qe.nsq", "ne.nsq", Dims)} AS c
            FROM q0 JOIN a0 ON a0.cid = q0.cid AND a0.vec_id <> q0.q_id
              JOIN en qe ON qe.vec_id = q0.q_id
              JOIN en ne ON ne.vec_id = a0.vec_id),
          s1 AS (SELECT q1.q_id, a1.vec_id,
              ${qcosDuck("qe.qv", "ne.qv", "qe.nsq", "ne.nsq", Dims)} AS c
            FROM q1 JOIN a1 ON a1.cid = q1.cid AND a1.vec_id <> q1.q_id
              JOIN en qe ON qe.vec_id = q1.q_id
              JOIN en ne ON ne.vec_id = a1.vec_id),
          t0 AS (SELECT q_id, vec_id FROM (
            ${duckTopK("s0", "q_id", "c", "vec_id")}) t),
          t1 AS (SELECT q_id, vec_id FROM (
            ${duckTopK("s1", "q_id", "c", "vec_id")}) t),
          k0 AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS k0
            FROM t0 GROUP BY 1),
          k1 AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS k1
            FROM t1 GROUP BY 1),
          cm AS (SELECT t0.q_id, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM t0 JOIN t1 ON t1.q_id = t0.q_id
              AND t1.vec_id = t0.vec_id
            GROUP BY 1),
          qs AS (SELECT q_id FROM q0)
          SELECT qs.q_id AS query_id,
            CAST(COALESCE(k0.k0, 0) AS BIGINT) AS k0,
            CAST(COALESCE(k1.k1, 0) AS BIGINT) AS k1,
            CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
            CAST(COALESCE(cm.n_common, 0) * 1000
              // GREATEST(COALESCE(k0.k0, 0) + COALESCE(k1.k1, 0)
                - COALESCE(cm.n_common, 0), 1) AS BIGINT)
              AS jaccard_milli
          FROM qs LEFT JOIN k0 ON k0.q_id = qs.q_id
            LEFT JOIN k1 ON k1.q_id = qs.q_id
            LEFT JOIN cm ON cm.q_id = qs.q_id"""),
      (s, d) => {
        val (en, a0, a1) = lloydAssigns(s, d)
        def leg(asg: DataFrame, cidCol: String): DataFrame = {
          val cells = asg.select(col("vec_id"), col(cidCol).as("cell"))
          val qc = cells.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("cell"))
          topK(cells.join(broadcast(qc), Seq("cell"))
            .filter(col("vec_id") =!= col("q_id"))
            .join(en.select(col("vec_id").as("q_id"),
              col("qv").as("q_qv"), col("nsq").as("q_nsq")), "q_id")
            .join(en.select(col("vec_id"), col("qv"), col("nsq")),
              "vec_id")
            .withColumn("cosine", cosineCol),
            Seq("q_id"), "cosine", "vec_id")
            .select(col("q_id"), col("vec_id"))
        }
        val t0 = leg(a0, "cid")
        val t1 = leg(a1, "cid1")
        val k0 = t0.groupBy(col("q_id")).agg(count(lit(1)).as("k0"))
        val k1 = t1.groupBy(col("q_id")).agg(count(lit(1)).as("k1"))
        val cm = t0.join(t1, Seq("q_id", "vec_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
        en.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"))
          .join(broadcast(k0), Seq("q_id"), "left")
          .join(broadcast(k1), Seq("q_id"), "left")
          .join(broadcast(cm), Seq("q_id"), "left")
          .select(col("q_id").as("query_id"),
            coalesce(col("k0"), lit(0L)).as("k0"),
            coalesce(col("k1"), lit(0L)).as("k1"),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            expr("coalesce(n_common, 0) * 1000 div " +
              "greatest(coalesce(k0, 0) + coalesce(k1, 0) " +
              "- coalesce(n_common, 0), 1)").as("jaccard_milli"))
      }),

    // ---- mutual-nearest cross-collection pairs (bitext-mining shape) -------
    // The parallel-corpus miner's core operator (Artetxe & Schwenk 2019,
    // CCMatrix-style): between two disjoint collections A (label < 5) and
    // B (label >= 5), emit pairs that are MUTUAL nearest neighbors — a's
    // top-1 in B is b AND b's top-1 over ALL of A is a — plus the margin
    // between a's best and second-best cosine (low margin = hubness /
    // ambiguous alignment, the standard accept knob). One-directional
    // top-1 overpairs badly (hub vectors absorb many queries); mutuality
    // is the cheap symmetric filter. Queries are the fixed id range
    // (vec_id < 64, A side), so both passes broadcast a BOUNDED set
    // against one linear scan: pass 1 scans B with the queries broadcast;
    // pass 2 scans A with the (<= |Q|) hit vectors broadcast — the back
    // direction still ranges over the FULL A side, so mutuality is real,
    // not sample-vs-sample. Determinism: exact integer dot/norms
    // (Portable quantization), cosine doubles identical in both engines,
    // (cosine DESC, vec_id) total tiebreaks, margin published as a
    // floored micro int. 100 TB plan: two broadcast-small x scan-linear
    // passes; per-query windows partition on q_id/b_id (bounded query
    // count — q45's audited shape); no corpus-sized shuffle or broadcast.
    QuerySpec(
      "q375_mutual_knn_pairs",
      Some(s"""WITH $duckQuantCte,
        el AS (SELECT en.vec_id, en.qv, en.nsq, e2.label
          FROM en JOIN embeddings e2 ON e2.vec_id = en.vec_id),
        a AS (SELECT * FROM el WHERE label < 5),
        b AS (SELECT * FROM el WHERE label >= 5),
        q AS (${duckQuerySet("a", 64)}),
        p1 AS (SELECT q.q_id, b.vec_id,
            ${qcosDuck("q.q_qv", "b.qv", "q.q_nsq", "b.nsq", Dims)} AS cosine
          FROM b, q),
        r1 AS (SELECT q_id,
            MAX(CASE WHEN rk = 1 THEN vec_id END) AS b_id,
            MAX(CASE WHEN rk = 1 THEN cosine END) AS best,
            MAX(CASE WHEN rk = 2 THEN cosine END) AS second
          FROM (${duckTopK("p1", "q_id", "cosine", "vec_id", 2)}) t
          GROUP BY 1),
        bv AS (SELECT DISTINCT r1.b_id, el.qv AS b_qv, el.nsq AS b_nsq
          FROM r1 JOIN el ON el.vec_id = r1.b_id),
        p2 AS (SELECT bv.b_id, a.vec_id,
            ${qcosDuck("bv.b_qv", "a.qv", "bv.b_nsq", "a.nsq", Dims)} AS cosine
          FROM a, bv),
        r2 AS (SELECT b_id, vec_id AS a_top FROM (
            ${duckTopK("p2", "b_id", "cosine", "vec_id", 1)}) t)
        SELECT r1.q_id AS a_id, r1.b_id, r1.best AS cosine,
          CAST(floor((r1.best - r1.second) * 1000000) AS BIGINT)
            AS margin_micro
        FROM r1 JOIN r2 USING (b_id)
        WHERE r2.a_top = r1.q_id"""),
      (s, d) => {
        val el = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            expr(qvecSpark("embedding")).as("qv"))
          .withColumn("nsq", expr(qnsqSpark("qv")))
          .cache() // A scan, B scan, and the hit-vector lookup
        val aSide = el.filter(col("label") < 5)
        val bSide = el.filter(col("label") >= 5)
        val qs = querySet(aSide, 64) // bounded query set
        val r1 = topK(bSide.crossJoin(broadcast(qs))
            .withColumn("cosine", cosineCol),
          Seq("q_id"), "cosine", "vec_id", 2)
          .groupBy(col("q_id"))
          .agg(max(when(col("rk") === 1, col("vec_id"))).as("b_id"),
            max(when(col("rk") === 1, col("cosine"))).as("best"),
            max(when(col("rk") === 2, col("cosine"))).as("second"))
          .cache() // feeds the hit-vector lookup AND the final join
        val bv = el.join(broadcast(r1.select(col("b_id")).distinct()),
            col("vec_id") === col("b_id"))
          .select(col("b_id"), col("qv").as("q_qv"),
            col("nsq").as("q_nsq"))
        val r2 = topK(aSide.crossJoin(broadcast(bv)) // <= |Q| hit vectors
            .withColumn("cosine", cosineCol),
          Seq("b_id"), "cosine", "vec_id", 1)
          .select(col("b_id"), col("vec_id").as("a_top"))
        r1.join(broadcast(r2), "b_id")
          .filter(col("a_top") === col("q_id"))
          .select(col("q_id").as("a_id"), col("b_id"),
            col("best").as("cosine"),
            expr("cast(floor((best - second) * 1000000) as bigint)")
              .as("margin_micro"))
      }),

    // ---- kNN label-consensus noise detection -------------------------------
    // Instance-level label-error screening (the Confident-Learning-shaped
    // check): for each audited vector, do its k=5 exact nearest neighbors
    // (cosine, full corpus, self excluded) AGREE with its label? A vector
    // whose neighborhood majority-disagrees is flagged as a probable
    // label error — the per-instance complement of q339's per-label
    // centroid silhouette (which already showed this fixture's labels
    // barely separate; this query names the individual suspects instead
    // of the aggregate). Audited set = the fixed id range vec_id < 100
    // (sf-independent, the q45 query-set discipline). Determinism: exact
    // integer dot/norms, (cosine DESC, vec_id) tiebreak, integer
    // agreement counts. 100 TB plan: ONE corpus scan with the bounded
    // query set broadcast (the q45 shape); label lookups join the tiny
    // top-k frame (broadcast) against the embeddings scan; per-query
    // windows partition on q_id. Auditing MORE vectors shards the query
    // set across repeated scans — cost is queries x corpus, a chosen
    // audit budget, never an all-pairs.
    QuerySpec(
      "q376_label_consensus",
      Some(s"""WITH $duckQuantCte,
        q AS (${duckQuerySet("en", ConsensusIds)}),
        p AS (SELECT q.q_id, en.vec_id,
            ${qcosDuck("q.q_qv", "en.qv", "q.q_nsq", "en.nsq", Dims)} AS cosine
          FROM en, q WHERE en.vec_id <> q.q_id),
        tk AS (SELECT q_id, vec_id FROM (
          ${duckTopK("p", "q_id", "cosine", "vec_id")}) t),
        ag AS (SELECT tk.q_id, lq.label,
            CAST(SUM(CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
          FROM tk JOIN embeddings ln ON ln.vec_id = tk.vec_id
                  JOIN embeddings lq ON lq.vec_id = tk.q_id
          GROUP BY 1, 2)
        SELECT q_id AS query_id, label, n_agree,
          (n_agree * 2 < $K) AS flagged
        FROM ag"""),
      (s, d) => {
        val en = quantized(s, d, withSig = false)
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val top = neighbors(en
            .crossJoin(broadcast(querySet(en, ConsensusIds)))
            .filter(col("vec_id") =!= col("q_id")))
          .select(col("query_id"), col("neighbor_id"))
        val ag = lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label"))
          .join(broadcast(top), "neighbor_id") // k x |audit| rows
          .join(broadcast(lab.filter(col("vec_id") < ConsensusIds)
            .select(col("vec_id").as("query_id"), col("label"))),
            "query_id")
          .groupBy(col("query_id"), col("label"))
          .agg(sum(when(col("n_label") === col("label"), 1L)
            .otherwise(0L)).as("n_agree"))
        ag.select(col("query_id"), col("label"), col("n_agree"),
          (col("n_agree") * 2 < K).as("flagged"))
      }),

    // ---- IVF cell-balance audit + deterministic trie rebalance -------------
    // SCALE.md's admitted gap: sign-code cells are NOT equal-mass (q98's
    // residual 1.4x), q351 plans probe order but nothing measures
    // occupancy skew or FIXES it. This is both: assign every vector its
    // sign-prefix TRIE leaf — keep splitting (add the next hyperplane,
    // depth 4 → 12) only while the current cell exceeds the occupancy
    // cap (32, the q98/q205 target) — so a hot cell recursively sheds
    // planes while a cold one stays coarse. The per-vector rule
    // "smallest depth whose prefix-cell occupancy <= cap" IS the
    // recursive split (a trie node is a leaf iff it is the first
    // at-or-under-cap prefix on its path), which makes it expressible
    // as maxd-3 bounded levels instead of a loop: explode depths
    // 4..maxd, count (depth, cell) occupancy, pick each vector's first
    // satisfying depth with an integer-encoded min (depth*2^48+cell —
    // exact, both engines). Round 14: maxd is no longer pinned at 12 —
    // it is clamp(12..48, bitlength(corpus/cap)) (q388's planning rule,
    // computed in-plan on both engines), so leaves still over cap at
    // the ceiling shrink to a bounded audited remainder as the corpus
    // grows instead of absorbing it. Output: one row per
    // leaf with occupancy and corpus-ppm mass — the balance sheet an
    // IVF serving layer reads before choosing nprobe. 100 TB plan:
    // 9x-corpus level rows shuffle on (depth, cell); occupancy agg is
    // partial+final; join back on the same key; the leaf rollup is
    // cell-bounded; no self-join, no corpus window, no collect.
    QuerySpec(
      "q380_ivf_cell_rebalance", {
        val cap = CellOccupancy
        Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, ($sigDuck) AS sig FROM en),
          $duckTrieLeafCte,
          tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM en)
          SELECT depth, cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
            (CAST(COUNT(*) AS BIGINT) * 1000000) // n_total AS ppm,
            COUNT(*) > $cap AS over_cap
          FROM leaf, tot GROUP BY 1, 2, n_total""")
      },
      (s, d) => {
        val sg = quantized(s, d, withSig = true)
          .select(col("vec_id"), col("sig"))
        // shared leaf rule — [[trieLeafAdaptive]] is also the streaming
        // semantic dedup's corpus state-key space (SemDedupStream); the
        // depth ceiling tracks corpus/cap (round-13 verdict #1)
        val leaf = trieLeafAdaptive(sg, CellOccupancy)
        val tot = sg.agg(count(lit(1)).as("n_total"))
        leaf.groupBy(col("depth"), col("cell"))
          .agg(count(lit(1)).as("n_vecs"))
          .crossJoin(broadcast(tot)) // 1-row total
          .select(col("depth"), col("cell"), col("n_vecs"),
            expr("n_vecs * 1000000 div n_total").as("ppm"),
            (col("n_vecs") > CellOccupancy).as("over_cap"))
      }),

    // ---- MMR diverse top-k selection (Carbonell & Goldstein) ---------------
    // The selection shape plain top-k (q45) can't express: each of the
    // K=5 picks per query maximizes lambda*relevance − (1−lambda)*
    // max-similarity-to-already-selected (lambda = 0.7) — the
    // relevance/diversity tradeoff retrieval and data-selection
    // pipelines use to avoid returning five near-copies. The greedy is
    // inherently sequential in K, so it unrolls as K bounded stages
    // (q48's bounded-round discipline): each stage collapses the
    // selected set to one <= K-element array per query, broadcasts it
    // onto the cached relevance frame, computes max-sim-to-selected
    // row-locally, and takes the per-query max-struct (score, then
    // smallest vec_id). Determinism: relevance and pair cosines are
    // the exact-grid qcosine doubles; 0.7/0.3 are the same IEEE doubles
    // in both engines; ties break on vec_id. 100 TB plan: the corpus
    // scan happens once (rel is cached); per stage only the <= nq*K
    // selected rows and the argmax partials shuffle — no all-pairs, no
    // data-sized window, no corpus-sized exchange (see [[mmrSelect]];
    // ScaleSpec pins the shuffle-record bound at K = 20).
    QuerySpec(
      "q386_mmr_select", {
        val stages = (2 to MmrK).map { t =>
          s"""ms_$t AS (SELECT r.q_id, r.vec_id, r.cq,
              MAX(${qcosDuck("er.qv", "es.qv", "er.nsq", "es.nsq", Dims)})
                AS ms
            FROM rel r JOIN en er ON er.vec_id = r.vec_id
            JOIN acc_${t - 1} p ON p.q_id = r.q_id
            JOIN en es ON es.vec_id = p.neighbor_id
            WHERE NOT EXISTS (SELECT 1 FROM acc_${t - 1} x
              WHERE x.q_id = r.q_id AND x.neighbor_id = r.vec_id)
            GROUP BY 1, 2, 3),
          sel_$t AS (SELECT q_id, vec_id AS neighbor_id, relevance,
              mmr_score, CAST($t AS INT) AS mmr_rank FROM (
              SELECT q_id, vec_id, cq AS relevance,
                CAST(0.7 AS DOUBLE) * cq - CAST(0.3 AS DOUBLE) * ms
                  AS mmr_score,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY CAST(0.7 AS DOUBLE) * cq
                    - CAST(0.3 AS DOUBLE) * ms DESC, vec_id) AS rk
              FROM ms_$t) z WHERE rk = 1),
          acc_$t AS (SELECT * FROM acc_${t - 1}
            UNION ALL SELECT * FROM sel_$t)"""
        }.mkString(",\n          ")
        Some(s"""WITH $duckQuantCte,
          qset AS (${duckQuerySet("en")}),
          rel AS (SELECT q_id, en.vec_id,
              ${qcosDuck("q_qv", "en.qv", "q_nsq", "en.nsq", Dims)} AS cq
            FROM qset, en WHERE en.vec_id <> q_id),
          acc_1 AS (SELECT q_id, vec_id AS neighbor_id, cq AS relevance,
              cq AS mmr_score, CAST(1 AS INT) AS mmr_rank FROM (
              ${duckTopK("rel", "q_id", "cq", "vec_id", 1)}) t),
          $stages
          SELECT q_id AS query_id, mmr_rank, neighbor_id, relevance,
            mmr_score
          FROM acc_$MmrK""")
      },
      (s, d) => mmrSelect(s, d, MmrK)),

    // ---- semantic-trie capacity plan (occupancy sweep) ----------------------
    // The index-planning readout the widened 48-plane signature unlocks
    // (the q346/q351/q368 planning-family shape, for the q380 trie): per
    // candidate depth 4..20 — PAST the old 16-plane ceiling — how many
    // sign-prefix cells exist, how many are over the occupancy cap, how
    // much vector mass sits in them, and the max occupancy. The planner
    // reads off the maxDepth a corpus needs (first depth where over-cap
    // mass is an acceptable audited remainder) and whether cap/width
    // still bind at a target scale. One explode (17 levels per vector) +
    // two keyed aggregates — no joins, no windows.
    QuerySpec(
      "q388_trie_capacity_plan",
      Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, ($sigDuck) AS sig FROM en),
          lv AS (SELECT vec_id, d,
              sig & ((CAST(1 AS BIGINT) << d) - 1) AS cell
            FROM sg, (SELECT unnest(range(4, 21)) AS d) z),
          occ AS (SELECT d, cell, CAST(COUNT(*) AS BIGINT) AS n
            FROM lv GROUP BY 1, 2)
          SELECT CAST(d AS INT) AS depth,
            CAST(COUNT(*) AS BIGINT) AS n_cells,
            CAST(COALESCE(SUM(CASE WHEN n > $CellOccupancy THEN 1 END), 0)
              AS BIGINT) AS over_cap_cells,
            CAST(COALESCE(SUM(CASE WHEN n > $CellOccupancy THEN n END), 0)
              AS BIGINT) AS over_cap_mass,
            CAST(MAX(n) AS BIGINT) AS max_occupancy
          FROM occ GROUP BY 1"""),
      (s, d) => {
        quantized(s, d, withSig = true)
          .select(col("vec_id"), explode(expr(
            """transform(sequence(4, 20), dd ->
               struct(dd AS d, sig & (shiftleft(1L, dd) - 1) AS cell))"""))
            .as("x"))
          .select(col("x.d").as("d"), col("x.cell").as("cell"))
          .groupBy(col("d"), col("cell")).agg(count(lit(1)).as("n"))
          .groupBy(col("d"))
          .agg(count(lit(1)).as("n_cells"),
            coalesce(sum(when(col("n") > CellOccupancy, 1L)), lit(0L))
              .as("over_cap_cells"),
            coalesce(sum(when(col("n") > CellOccupancy, col("n"))), lit(0L))
              .as("over_cap_mass"),
            max(col("n")).as("max_occupancy"))
          .select(col("d").cast("int").as("depth"), col("n_cells"),
            col("over_cap_cells"), col("over_cap_mass"),
            col("max_occupancy"))
      }),

    // ---- semantic dedup at the trie-leaf grain ------------------------------
    // The BATCH form of exactly the admission rule the streaming leg
    // runs (SemDedupStream's stream-vs-corpus candidates): q98/q354
    // dedup at the fixed 4-plane cell; this dedups at q380's
    // occupancy-capped trie LEAF — the grain that keeps per-cell verify
    // cost <= cap² however the corpus clusters (over-cap ceiling-depth
    // remainder cells stay in, as the audited remainder — and the
    // ceiling itself tracks corpus/cap since round 14, so that
    // remainder stays bounded instead of growing quadratic past
    // 2^12 * cap vectors). Per vector:
    // its leaf, the canonical lower-id match (min id, like q354), the
    // match count, and the admission verdict. Oracle shares the leaf
    // CTE with q380 and the cosine fragment with q98/q382 — one
    // definition per rule across the whole semantic family.
    // 100 TB plan: leaf assignment is the q380 agg-join-agg; the verify
    // self-join keys on (depth, cell) with <= cap-bounded cells; the
    // per-vector rollup is a partial+final agg on vec_id.
    QuerySpec(
      "q391_trie_semantic_dedup",
      Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, ($sigDuck) AS sig FROM en),
          $duckTrieLeafCte,
          c AS (SELECT l.vec_id, l.depth, l.cell, e.qv, e.nsq
            FROM leaf l JOIN en e ON e.vec_id = l.vec_id),
          m AS (SELECT b.vec_id,
              CAST(MIN(a.vec_id) AS BIGINT) AS dup_of,
              CAST(COUNT(*) AS BIGINT) AS n_matches
            FROM c a JOIN c b
              ON a.depth = b.depth AND a.cell = b.cell
              AND a.vec_id < b.vec_id
            WHERE ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", Dims)}
              >= $SemThreshold
            GROUP BY 1)
          SELECT c.vec_id, c.depth, c.cell,
            m.vec_id IS NULL AS admitted, m.dup_of,
            COALESCE(m.n_matches, 0) AS n_matches
          FROM c LEFT JOIN m ON m.vec_id = c.vec_id"""),
      (s, d) => {
        val sg = quantized(s, d, withSig = true)
        val leaf = trieLeafAdaptive(sg.select(col("vec_id"), col("sig")),
          CellOccupancy)
        val c = sg.select(col("vec_id"), col("qv"), col("nsq"))
          .join(leaf, "vec_id").cache()
        val m = c.select(col("vec_id").as("kept"), col("depth"),
            col("cell"), col("qv").as("qv_a"), col("nsq").as("nsq_a"))
          .join(c.select(col("vec_id"), col("depth").as("d_b"),
            col("cell").as("cell_b"), col("qv").as("qv_b"),
            col("nsq").as("nsq_b")),
            col("depth") === col("d_b") && col("cell") === col("cell_b")
              && col("kept") < col("vec_id"))
          .filter(expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)")
            >= SemThreshold)
          .groupBy(col("vec_id"))
          .agg(min(col("kept")).as("dup_of"),
            count(lit(1)).as("n_matches"))
        c.select(col("vec_id"), col("depth"), col("cell"))
          .join(m, Seq("vec_id"), "left")
          .select(col("vec_id"), col("depth"), col("cell"),
            col("dup_of").isNull.as("admitted"), col("dup_of"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      }),

    // ---- trie-leaf ANN with measured recall ---------------------------------
    // The serving question for the round-13 trie: q380's leaves are the
    // dedup index — are they also a retrieval index? Each query probes
    // [[AnnProbeBudget]] leaves (its own, and budget-1 signatures with
    // the least-confident planes among 0..maxd-1 flipped one at a time
    // — q47's multiprobe trick at the trie grain; leaf cells partition
    // the corpus, so a probe path meets exactly one leaf), re-ranks the
    // bounded candidate set exactly, and the query SELF-AUDITS recall
    // against the exact top-5 (q322's close-the-loop discipline — an
    // ANN without a measured recall is a guess). Round 14: the probe
    // machinery is budget-parameterized ([[trieAnnRecall]], shared with
    // q394's planning sweep) and rides the ADAPTIVE depth ceiling, so
    // flips come from all deployed planes, not a pinned 0..11.
    // All-integer outputs + exact-grid cosines with vec_id tiebreaks
    // keep both engines bit-equal. 100 TB plan: probes are `budget`
    // (depth, cell) key lookups per query; candidates <= budget x
    // (cap + audited remainder); only the self-audit's exact leg scans
    // the corpus (it exists to MEASURE the index, not to serve).
    QuerySpec(
      "q392_trie_ann_recall",
      Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
          $duckTrieLeafCte,
          ${duckTrieAnnCtes(Seq(AnnProbeBudget))}
          SELECT q_id, n_cand, n_hit,
            n_hit * 1000000 // $K AS recall_ppm
          FROM grid"""),
      (s, d) => trieAnnRecall(s, d, Seq(AnnProbeBudget))
        .select(col("q_id"), col("n_cand"), col("n_hit"),
          expr(s"n_hit * 1000000 div $K").as("recall_ppm"))),

    // ---- trie-ANN probe-budget planning sweep -------------------------------
    // q351's nprobe-planning discipline applied to the trie index
    // (round-13 verdict #2): ONE recall number at one operating point is
    // a guess about every other — this measures the recall/candidate
    // trade across probe budgets 1/2/4/8 so a serving layer picks its
    // budget from a table, not a hunch (ScaleProbe re-runs the same
    // sweep on the 10x corpus, where leaves deepen — the
    // recall-vs-corpus-growth axis). Per budget: total candidates,
    // total exact-top-K hits, corpus-wide recall ppm, and the WORST
    // query's recall ppm (a mean can hide a starved query). Integer
    // outputs; both engines share the ranked-flip probe rule via the
    // same CTE builder as q392.
    QuerySpec(
      "q394_trie_ann_probe_sweep",
      Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
          $duckTrieLeafCte,
          ${duckTrieAnnCtes(AnnSweepBudgets)}
          SELECT probe_budget,
            CAST(COUNT(*) AS BIGINT) AS n_queries,
            CAST(SUM(n_cand) AS BIGINT) AS n_cand,
            CAST(SUM(n_hit) AS BIGINT) AS n_hit,
            CAST(SUM(n_hit) * 1000000 // (COUNT(*) * $K) AS BIGINT)
              AS recall_ppm,
            CAST(MIN(n_hit * 1000000 // $K) AS BIGINT)
              AS min_q_recall_ppm
          FROM grid GROUP BY 1"""),
      (s, d) => trieAnnRecall(s, d, AnnSweepBudgets)
        .groupBy(col("probe_budget"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_cand")).as("n_cand"),
          sum(col("n_hit")).as("n_hit"),
          expr(s"sum(n_hit) * 1000000 div (count(1) * $K)")
            .as("recall_ppm"),
          min(expr(s"n_hit * 1000000 div $K")).as("min_q_recall_ppm"))),

    // ---- quota-elastic trie-ANN serving -------------------------------------
    // The fix for what q394's table shows: a FIXED budget starves
    // queries whose probed leaves are shallow/small (the
    // min_q_recall_ppm floor) and over-probes queries whose first leaf
    // already carries the candidate mass. The serving rule probes in
    // confidence-rank order until the cumulative distinct candidate
    // count reaches [[AnnQuota]] (ceiling [[AnnElasticCeiling]]
    // probes), so candidate WORK per query is normalized instead of
    // probe COUNT. Output per query: probes actually spent, candidates
    // verified, exact-top-K hits — recall at normalized cost, the
    // honest serving readout. Closed-form in both engines (min
    // first-reaching rank + one cumulative window pick the per-query
    // probe prefix; no iteration).
    QuerySpec(
      "q395_trie_ann_elastic",
      Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
          $duckTrieLeafCte,
          ${duckTrieAnnElasticCtes(AnnQuota, AnnElasticCeiling)}
          SELECT q_id, probes_used, n_cand, n_hit,
            n_hit * 1000000 // $K AS recall_ppm
          FROM grid"""),
      (s, d) => trieAnnElastic(s, d, AnnQuota, AnnElasticCeiling)
        .select(col("q_id"), col("probes_used"), col("n_cand"),
          col("n_hit"),
          expr(s"n_hit * 1000000 div $K").as("recall_ppm"))),

    // ---- semantic leakage residual of the component split -------------------
    // q393's split is closed under TEXTUAL near-dup (q48's verified
    // MinHash components) — but eval contamination is not only textual:
    // a paraphrase shares no shingles yet measures memorization all the
    // same. This op measures the SEMANTIC residual: q391's trie-leaf
    // near-dup pairs (same adaptive leaf, exact-grid cosine >= the
    // SemDeDup threshold) whose endpoints landed on OPPOSITE sides of
    // exactly q393's component-hash split. Output: one row per semantic
    // pair with both sides and the leak flag, plus the corpus rollup
    // (pair count, leaked count + ppm, distinct eval docs contaminated —
    // the docs whose scores a trainer can no longer trust). The split
    // rule and the pair rule are shared definitions (q393's hash,
    // q391's leaf CTE), so this audit cannot drift from either parent.
    // 100 TB plan: pairs are cell-bounded (cap² per leaf), sides are one
    // component join — no new candidate generator, just the composition.
    QuerySpec(
      "q397_semantic_split_leak", {
        val hComp = h64Duck("CAST(component AS VARCHAR)")
        Some(s"""WITH $duckQuantCte,
          sg AS (SELECT vec_id, ($sigDuck) AS sig FROM en),
          $duckTrieLeafCte,
          c AS (SELECT l.vec_id, l.depth, l.cell, e.qv, e.nsq
            FROM leaf l JOIN en e ON e.vec_id = l.vec_id),
          spairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM c a JOIN c b
              ON a.depth = b.depth AND a.cell = b.cell
              AND a.vec_id < b.vec_id
            WHERE ${qcosDuck("a.qv", "b.qv", "a.nsq", "b.nsq", Dims)}
              >= $SemThreshold),
          ${Dedup.minhashSymDuck},
          ${Dedup.minLabelRootsDuck(12)},
          sides AS (SELECT z.doc_id,
              CASE WHEN ($hComp) % 10 < 8 THEN 'train' ELSE 'eval' END
                AS side
            FROM (SELECT d.doc_id,
                COALESCE(r.component, d.doc_id) AS component
              FROM documents d LEFT JOIN roots r
                ON r.doc_id = d.doc_id) z),
          sided AS (SELECT p.doc_a, p.doc_b,
              sa.side AS side_a, sb.side AS side_b,
              sa.side <> sb.side AS is_leak
            FROM spairs p JOIN sides sa ON sa.doc_id = p.doc_a
                          JOIN sides sb ON sb.doc_id = p.doc_b),
          agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sem_pairs,
              CAST(COALESCE(SUM(CASE WHEN is_leak THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_leak_pairs
            FROM sided),
          ev AS (SELECT CAST(COUNT(DISTINCT CASE WHEN side_a = 'eval'
                THEN doc_a ELSE doc_b END) AS BIGINT)
              AS n_eval_docs_leaked
            FROM sided WHERE is_leak)
          SELECT s.doc_a, s.doc_b, s.side_a, s.side_b, s.is_leak,
            agg.n_sem_pairs, agg.n_leak_pairs,
            agg.n_leak_pairs * 1000000 // agg.n_sem_pairs AS leak_ppm,
            ev.n_eval_docs_leaked
          FROM sided s, agg, ev""")
      },
      (s, d) => {
        // q391's semantic pair relation (same leaf, cosine >= threshold)
        val spairs = semLeafPairs(s, d)
        // q393's component-hash sides, verbatim
        val sides = Dedup.fullComponents(s, d, Dedup.shingleSets(s, d))
          .withColumn("side",
            when(expr(h64Spark("cast(component as string)")) % 10 < 8,
              "train").otherwise("eval"))
          .select(col("doc_id"), col("side"))
        val sided = spairs
          .join(sides.select(col("doc_id").as("doc_a"),
            col("side").as("side_a")), "doc_a")
          .join(sides.select(col("doc_id").as("doc_b"),
            col("side").as("side_b")), "doc_b")
          .withColumn("is_leak", col("side_a") =!= col("side_b"))
          // EAGER materialization, not cache(): the two 1-row rollups
          // below are broadcast builds, and broadcast futures over an
          // unmaterialized cache race the main scan into computing this
          // whole pair+components pipeline 2-3x per run (measured: the
          // pair-verify stage ran twice, 10.6 s + 4.1 s of task time).
          // A cache() can't help across runs either — the lineage holds
          // a per-run checkpointed RDD, so it never canonical-matches.
          .localCheckpoint(true)
        val agg = sided.agg(count(lit(1)).as("n_sem_pairs"),
          coalesce(sum(when(col("is_leak"), 1L).otherwise(0L)), lit(0L))
            .as("n_leak_pairs"))
        val ev = sided.filter(col("is_leak"))
          .select(when(col("side_a") === "eval", col("doc_a"))
            .otherwise(col("doc_b")).as("doc"))
          .agg(countDistinct(col("doc")).as("n_eval_docs_leaked"))
        sided
          .crossJoin(broadcast(agg))   // 1-row corpus rollup
          .crossJoin(broadcast(ev))    // 1-row eval-doc rollup
          .select(col("doc_a"), col("doc_b"), col("side_a"),
            col("side_b"), col("is_leak"), col("n_sem_pairs"),
            col("n_leak_pairs"),
            expr("n_leak_pairs * 1000000 div n_sem_pairs")
              .as("leak_ppm"),
            col("n_eval_docs_leaked"))
      }),

    // ---- quota-elastic IVF serving (per-query adaptive nprobe) --------------
    // q395 proves the quota-elastic stop rule on the TRIE index; the
    // index that actually serves top-k is the IVF coarse quantizer
    // (q47, with q351 planning its FIXED nprobe). This is the
    // production read-path composition the round-14 verdict asked for:
    // probe q351's confidence-ranked cell list per query until the
    // distinct-candidate quota is met — dense-cell queries stop at 1
    // probe, sparse-cell queries keep flipping planes, every query pays
    // for the work it needs instead of the worst query's nprobe. See
    // [[ivfElastic]] for the closed form and the 100 TB plan
    // (cell-partitioned corpus => the probe join IS partition pruning).
    QuerySpec(
      "q398_ivf_nprobe_elastic",
      Some(s"""WITH ${duckIvfElasticCtes(IvfQuota, IvfElasticCeiling)}
          SELECT q_id, probes_used, n_cand, n_hit,
            n_hit * 1000000 // $K AS recall_ppm
          FROM grid"""),
      (s, d) => ivfElastic(s, d, IvfQuota, IvfElasticCeiling)
        .select(col("q_id"), col("probes_used"), col("n_cand"),
          col("n_hit"),
          expr(s"n_hit * 1000000 div $K").as("recall_ppm"))),

    // ---- adaptive-grain elastic IVF serving (round-16, verdict #1) ----------
    // q398's elastic stop rule on a coarse quantizer whose GRAIN TRACKS
    // THE CORPUS: the cell count is no longer pinned at 16 —
    // cells = 2^maxd with maxd = bitlength(n / occupancy-target), the
    // q380/q391 adaptive-depth discipline applied to the SERVING index.
    // SCALE.md's round-15 table showed the pinned grain's consequence
    // (recall 380,000 -> 100,000 ppm at 10x, n_cand overshooting 3.4x
    // because one 16th of a 10x corpus dwarfs the rerank quota); here
    // occupancy stays ~flat in [quota/2, quota] at ANY corpus size, so
    // the first probe lands ~quota candidates and recall holds (the
    // ScaleProbe base/10x/100x rows are the evidence). At fixture SFs
    // the rule resolves to the q47 floor (16 cells), so the oracle
    // space is the familiar one. See [[ivfElasticAdaptive]] for the
    // 100 TB plan.
    QuerySpec(
      "q400_ivf_adaptive_grain",
      Some(s"""WITH $duckQuantCte,
          ${duckIvfAdaptiveCtes(IvfQuota, IvfServeCeiling)}
          SELECT q_id, n_cells, probes_used, n_cand, n_hit,
            n_hit * 1000000 // $K AS recall_ppm
          FROM grid"""),
      (s, d) => ivfElasticAdaptive(s, d, IvfQuota, IvfServeCeiling)
        .select(col("q_id"), col("n_cells"), col("probes_used"),
          col("n_cand"), col("n_hit"),
          expr(s"n_hit * 1000000 div $K").as("recall_ppm"))),

    // ---- learned (centroid) coarse quantizer serving (round-16) ------------
    // The IVF literature's actual index (Jegou et al. 2011, "Product
    // Quantization for Nearest Neighbor Search" §IV-A; FAISS
    // IndexIVFFlat): coarse cells are LEARNED k-means centroids, not
    // data-oblivious hyperplanes, so cell boundaries track the corpus's
    // own density and the probe order is true centroid distance. q108
    // proved one Lloyd step is exactly SQL-mirrorable; this composes
    // that trainer (strided deterministic seeds, exact-integer argmin,
    // truncating-div means) with the q398/q400 quota-elastic stop rule
    // at the FAISS sizing point k ~ sqrt(n). Measured on the isotropic
    // fixture: recall 680,000 ppm at 1,407 candidates where the
    // hyperplane grid (q398) gets 380,000 at 3,505 — learned centroids
    // beat planes on BOTH axes. See [[ivfCentroidServe]] for the
    // 100 TB plan.
    QuerySpec(
      "q401_ivf_centroid_serve",
      Some(s"""WITH $duckQuantCte,
          ${duckIvfCentroidCtes(IvfQuota, IvfCentroidCeiling)}
          SELECT q_id, n_cells, probes_used, n_cand, n_hit,
            n_hit * 1000000 // $K AS recall_ppm
          FROM grid"""),
      (s, d) => ivfCentroidServe(s, d, IvfQuota, IvfCentroidCeiling)
        .select(col("q_id"), col("n_cells"), col("probes_used"),
          col("n_cand"), col("n_hit"),
          expr(s"n_hit * 1000000 div $K").as("recall_ppm")))
  )

  /** q392's deployed probe budget (own leaf + one flip — the round-13
    * operating point) and q394's planning sweep axis. `def`s, not
    * `val`s: the `all` Seq above interpolates them during object init,
    * before later vals would be assigned.
    */
  private[graft] def AnnProbeBudget = 2
  private[graft] def AnnSweepBudgets = Seq(1, 2, 4, 8)

  /** q395's candidate quota (the work target per query — one leaf's
    * occupancy cap, plus headroom for the audit's K) and its probe
    * ceiling (q394's largest swept budget).
    */
  private[graft] def AnnQuota = 48
  private[graft] def AnnElasticCeiling = 8

  /** q398's probe ceiling on the IVF index: the own cell plus all four
    * single-plane flips — q351's whole ranked probe list (rank 5 in
    * q351 means "unreachable by single flips", so 5 IS the exhaustive
    * single-flip budget).
    */
  private[graft] def IvfElasticCeiling = 5

  /** q398's candidate quota — the RERANK budget per query, sized for
    * the serving index (IVF cells hold corpus/16, far above the trie's
    * occupancy cap, so [[AnnQuota]] would stop every query at one
    * probe). 256 exact rerank ops per query is a deployment constant; a
    * growing corpus then needs FEWER probes per query (cell occupancy
    * rises past the quota), which is exactly the elastic property the
    * ScaleProbe row demonstrates (5 probes at 500 vectors, ~3 at 2k,
    * 1 at 20k).
    */
  private[graft] def IvfQuota = 256

  /** q400's occupancy target for the ADAPTIVE serving grain: cells =
    * 2^bitlength(n / this), so mean cell occupancy stays inside
    * (target/2, target] at any corpus size. 64 (= quota/4) is the
    * tuned point from ScaleProbe's `servetune` sweep (SCALE.md,
    * round 16): the quota then buys ~4-7 multi-probe cells per query
    * instead of stopping on the first over-full one, which is where
    * the recall lives.
    */
  private[graft] def IvfServeOccupancy = 64

  /** q400's depth floor — q47's pinned 4-plane/16-cell grain, so every
    * fixture SF (where bitlength(n/256) <= 4) keeps the familiar
    * oracle cell space and the adaptive rule only ever DEEPENS it.
    */
  private[graft] def IvfServeFloorDepth = 4

  /** q400's probe ceiling: the own cell + up to ceiling-1 perturbation
    * cells in multi-probe score order. A BUDGET, not an exhaustive
    * list — the elastic rule stops far earlier whenever occupancy is
    * healthy. 16 is the tuned point from ScaleProbe's `servetune`
    * sweep (SCALE.md, round 16).
    */
  private[graft] def IvfServeCeiling = 16

  /** How many of the query's least-confident planes the multi-probe
    * rule may flip in combination (subset space 2^this per query — a
    * query-set-sized broadcast). 6 covers neighbors differing in up to
    * 6 of the low-|projection| signs, the regime serving-cosine
    * neighbors actually occupy on a deepened grid.
    */
  private[graft] def IvfPerturbPlanes = 6

  /** q401's probe ceiling. Centroid-distance probe order is far better
    * calibrated than hyperplane-flip order (the rank-1 cell IS the
    * nearest learned cluster, not a guess about which sign bit is
    * wrong), so 8 ranked cells is the whole budget — the elastic rule
    * stops earlier whenever occupancy affords it.
    */
  private[graft] def IvfCentroidCeiling = 8

  /** Quota-elastic IVF serving (q398) — q395's stop rule composed with
    * the index that actually SERVES top-k (q47's 16-cell coarse
    * quantizer; q394's table pins the trie as a dedup index, not a
    * serving one). Probe cells in q351's confidence-rank order (own
    * cell, then single-plane flips by ascending |projection|) and STOP
    * once the cumulative distinct candidate count reaches `quota` (or
    * the single-flip neighborhood is exhausted at `ceiling`) — per-query
    * adaptive nprobe, the production read path where a fixed nprobe
    * either starves sparse-cell queries or over-scans dense ones.
    * Closed-form in both engines: per-candidate first-reaching rank +
    * one cumulative window pick the per-query probe prefix, no
    * iteration. 100 TB plan: the corpus is written partitioned by cell,
    * so the probe join IS partition pruning (~probes/16 of the data);
    * rank/quota frames are query-set-sized broadcasts; only the audit's
    * exact leg scans the corpus.
    */
  private[graft] def ivfElastic(s: SparkSession, d: String,
      quota: Int, ceiling: Int): DataFrame = {
    val c = celled(s, d).cache()
    val qs = probeList4(c, col("qv").as("q_qv"), col("nsq").as("q_nsq"))
    val probes = qs.select(col("q_id"), posexplode(col("plist")))
      .select(col("q_id"), col("pos").as("rk"), col("col").as("cell"))
      .filter(col("rk") < ceiling)
    elasticStop(c.select(col("vec_id"), col("cell")),
      c.select(col("vec_id"), col("qv"), col("nsq")),
      qs.select(col("q_id"), col("q_qv"), col("q_nsq")),
      probes, Seq("cell"), quota, ceiling)
  }

  /** The quota-elastic stop rule + exact-rerank recall audit, shared by
    * q395 (trie), q398 (pinned IVF) and q400 (adaptive IVF) so the
    * closed form cannot drift between indexes. `corpusCells` carries
    * (vec_id, joinKeys...), `probes` (q_id, rk, joinKeys...); `scored`
    * is the (vec_id, qv, nsq) rerank side and `qsB` the broadcastable
    * (q_id, q_qv, q_nsq) query set. Per (q_id, vec_id) the FIRST rank
    * reaching the candidate decides membership; one cumulative window
    * picks the per-query minimal rank meeting `quota` — no iteration,
    * mirrored closed-form in every oracle. Returns one row per query:
    * (q_id, [n_cells,] probes_used, n_cand, n_hit). `nCells` is a
    * broadcast frame carrying `n_cells`: joined on q_id when it has that
    * column, else a one-row frame cross-joined in.
    */
  private def elasticStop(corpusCells: DataFrame, scored: DataFrame,
      qsB: DataFrame, probes: DataFrame, joinKeys: Seq[String],
      quota: Int, ceiling: Int,
      nCells: Option[DataFrame] = None): DataFrame = {
    val firstRk = corpusCells
      .join(broadcast(probes), joinKeys)
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(min(col("rk")).as("frk"))
      .cache()
    val wC = Window.partitionBy(col("q_id")).orderBy(col("frk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = firstRk.groupBy(col("q_id"), col("frk"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum", sum(col("n_new")).over(wC))
    val chosen = cum.groupBy(col("q_id"))
      .agg(min(when(col("cum") >= quota, col("frk"))).as("rmet"),
        max(col("frk")).as("rmax"))
    val candSet = firstRk.join(broadcast(chosen), "q_id")
      .filter(col("frk") <= coalesce(col("rmet"), col("rmax")))
      .select(col("q_id"), col("vec_id"))
    val top = cosineTopK(candSet
        .join(scored, "vec_id")
        .join(broadcast(qsB), "q_id"))
      .select(col("q_id"), col("vec_id"))
    val hits = top
      .join(exactTopK(scored, qsB), Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    val nc = candSet.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
    val grid = qsB.select(col("q_id"))
      .join(chosen, Seq("q_id"), "left")
      .join(nc, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("rmet") + 1, lit(ceiling)).cast("long")
          .as("probes_used"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    nCells.fold(grid) { cells =>
      (if (cells.columns.contains("q_id")) grid.join(broadcast(cells), "q_id")
       else grid.crossJoin(broadcast(cells)))
        .select(col("q_id"), col("n_cells"), col("probes_used"),
          col("n_cand"), col("n_hit"))
    }
  }

  /** DuckDB mirror of [[elasticStop]], taking the same inputs as CTE
    * names: `probes` (q_id, rk, joinKeys...), `corpusCells` (vec_id,
    * joinKeys...) and the query set `qs` (q_id, q_qv, q_nsq), with the
    * quantized corpus `en` in scope. The quota rule builds the cut
    * [[duckAnnAudit]] reads (newat → cume → chosen → cut): one row per
    * query at budget = `ceiling`, cut at the minimal rank meeting the
    * quota, else at the last rank reached. Ends in `grid(probe_budget,
    * q_id, [n_cells,] probes_used, n_cand, n_hit)`.
    */
  private def duckElasticStop(probes: String, corpusCells: String,
      joinKeys: Seq[String], qs: String, quota: Int, ceiling: Int,
      nCells: Option[(String, String)] = None): String =
    duckAnnAudit(probes, corpusCells, joinKeys, qs,
      s"""newat AS (SELECT q_id, frk, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firstrk GROUP BY 1, 2),
      cume AS (SELECT q_id, frk, SUM(n_new) OVER (PARTITION BY q_id
          ORDER BY frk) AS cum FROM newat),
      chosen AS (SELECT q_id,
          MIN(CASE WHEN cum >= $quota THEN frk END) AS rmet,
          MAX(frk) AS rmax
        FROM cume GROUP BY 1),
      cut AS (SELECT $ceiling AS probe_budget, q.q_id,
          COALESCE(ch.rmet, ch.rmax) AS rcut,
          COALESCE(ch.rmet + 1, $ceiling) AS probes_used
        FROM $qs q LEFT JOIN chosen ch ON ch.q_id = q.q_id)""",
      nCells)

  /** The DuckDB ANN audit both probe rules share. `firstrk` is the
    * lowest rank of `probes` (q_id, rk, joinKeys...) reaching each
    * candidate of `corpusCells` (vec_id, joinKeys...); `cutCtes` derive
    * from it `cut(probe_budget, q_id, rcut, probes_used)`, one row per
    * (budget, query) in `qs` (q_id, q_qv, q_nsq), keeping the
    * candidates first reached at rank <= rcut. The tail re-ranks them
    * exactly against the exact top-[[K]] and ends in
    * `grid(probe_budget, q_id, [n_cells,] probes_used, n_cand, n_hit)`.
    * `nCells` = (relation, expression) adds `n_cells`: the relation is
    * cross-joined into `grid` and the expression read from it.
    */
  private def duckAnnAudit(probes: String, corpusCells: String,
      joinKeys: Seq[String], qs: String, cutCtes: String,
      nCells: Option[(String, String)] = None): String = {
    val on = joinKeys.map(k => s"c.$k = p.$k").mkString(" AND ")
    val (cellsCol, cellsJoin) = nCells.fold(("", "")) {
      case (rel, e) => (s"$e AS n_cells,", s"CROSS JOIN $rel")
    }
    s"""firstrk AS (SELECT p.q_id, c.vec_id, MIN(p.rk) AS frk
        FROM $probes p JOIN $corpusCells c ON $on
        WHERE c.vec_id <> p.q_id GROUP BY 1, 2),
      $cutCtes,
      candset AS (SELECT ct.probe_budget, f.q_id, f.vec_id FROM firstrk f
        JOIN cut ct ON ct.q_id = f.q_id AND f.frk <= ct.rcut),
      scored AS (SELECT cs.probe_budget, cs.q_id, cs.vec_id,
          ${qcosDuck("q.q_qv", "e.qv", "q.q_nsq", "e.nsq", Dims)} AS c
        FROM candset cs JOIN en e ON e.vec_id = cs.vec_id
             JOIN $qs q ON q.q_id = cs.q_id),
      etop AS (SELECT probe_budget, q_id, vec_id FROM (
          ${duckTopK("scored", "probe_budget, q_id", "c", "vec_id")}) t),
      exactsc AS (SELECT q.q_id, e.vec_id,
          ${qcosDuck("q.q_qv", "e.qv", "q.q_nsq", "e.nsq", Dims)} AS c
        FROM $qs q, en e WHERE e.vec_id <> q.q_id),
      exacttop AS (SELECT q_id, vec_id FROM (
          ${duckTopK("exactsc", "q_id", "c", "vec_id")}) t),
      hits AS (SELECT t.probe_budget, t.q_id,
          CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM etop t JOIN exacttop x
          ON x.q_id = t.q_id AND x.vec_id = t.vec_id GROUP BY 1, 2),
      nc AS (SELECT probe_budget, q_id, CAST(COUNT(*) AS BIGINT) AS n_cand
        FROM candset GROUP BY 1, 2),
      grid AS (SELECT ct.probe_budget, ct.q_id, $cellsCol
          CAST(ct.probes_used AS BIGINT) AS probes_used,
          COALESCE(nc.n_cand, 0) AS n_cand,
          COALESCE(h.n_hit, 0) AS n_hit
        FROM cut ct
        $cellsJoin
        LEFT JOIN nc ON nc.probe_budget = ct.probe_budget
          AND nc.q_id = ct.q_id
        LEFT JOIN hits h ON h.probe_budget = ct.probe_budget
          AND h.q_id = ct.q_id)"""
  }

  /** The adaptive ANN query head (q392-q395's trie, q400's grid): the
    * cached query set of the signature corpus `sg` as `(q_id, q_qv,
    * q_nsq, sig, maxd, ap)` — maxd the in-plan [[adaptiveDepthSpark]] of
    * the one-row corpus count `n` (`n_src`) at (occupancy, floor), ap
    * the |projection| onto every plane. Twin of [[duckAdaptiveQueryHead]].
    */
  private def adaptiveQueryHead(sg: DataFrame, n: DataFrame, occupancy: Int,
      floor: Int): DataFrame =
    sg.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(n))
      .withColumn("maxd", adaptiveDepthSpark("n_src", occupancy, floor))
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nsq").as("q_nsq"), col("sig"), col("maxd"),
        expr(apArraySql).as("ap")).cache()

  /** Twin of [[adaptiveQueryHead]]: `qraw(q_id, q_qv, q_nsq, sig, maxd,
    * ap)` over the signature relation `src`, with maxd read from the
    * one-row relation `depth`.
    */
  private def duckAdaptiveQueryHead(src: String, depth: String): String = {
    val ap = (0 until Planes).map(p => s"abs(${projDuck(p)})")
      .mkString(", ")
    s"""qraw AS (SELECT vec_id AS q_id, qv AS q_qv, nsq AS q_nsq, sig, maxd,
          [$ap] AS ap
        FROM $src, $depth WHERE vec_id < $NumQueries)"""
  }

  /** The adaptive serving grid's frames (q400): the 48-plane signature
    * corpus assigned to a FLAT grid of 2^maxd cells with
    * maxd = clamp(bitlength(n / [[IvfServeOccupancy]]),
    * [[IvfServeFloorDepth]], [[Planes]]) computed IN-PLAN from the
    * corpus count (the [[trieLeafAdaptive]] broadcast-scalar pattern) —
    * unlike the trie's occupancy-capped variable-depth leaves, every
    * vector sits at the SAME depth, which is what a serving IVF wants
    * (uniform probe semantics, partition-by-cell layout). `sigsRk` is
    * the ranked probe list: rk 0 the query's own signature, rk >= 1 the
    * rk-th least-confident-plane flip over the DEPLOYED planes
    * (0..maxd-1) — q351's confidence order regenerated against the
    * adaptive grid. 100 TB plan: at rest the corpus is WRITTEN
    * partitioned by `cell` (cells ~ n/256 keeps partitions
    * rerank-quota-sized), so the probe join IS partition pruning;
    * n/probe/rank frames are 1-row/query-set-sized broadcasts; only
    * the audit's exact leg scans the corpus.
    */
  private def ivfServeFrames(s: SparkSession, d: String,
      occupancy: Int): AnnFrames = {
    val sg = quantizedSigCut(s, d)
    val n = sg.agg(count(lit(1)).as("n_src"))
    val corpus = sg.crossJoin(broadcast(n))
      .withColumn("maxd",
        adaptiveDepthSpark("n_src", occupancy, IvfServeFloorDepth))
      .select(col("vec_id"),
        expr("sig & (shiftleft(1L, maxd) - 1)").as("cell"))
    val qs = adaptiveQueryHead(sg, n, occupancy, IvfServeFloorDepth)
    // MULTI-PROBE perturbation SETS, not single flips (Lv et al. 2007,
    // "Multi-Probe LSH"): a true neighbor at serving cosine differs
    // from the query in ~(1 - cos⁻¹-agreement) × maxd sign bits, so on
    // a deepened grid single flips miss most neighbors (measured:
    // recall 380,000 -> 20,000 ppm at 10x under the single-flip rule).
    // Probe cells are the query's cell XOR a SUBSET of its
    // [[IvfPerturbPlanes]] least-confident planes, ranked by the sum
    // of flipped |projection| (the subset most plausibly wrong first);
    // rank 0 is the empty subset = the own cell. The subset frame is
    // query-set-sized (2^m rows/query, m <= 6) — a broadcast.
    val subs = qs.select(col("q_id"), col("sig"), col("maxd"),
        expr(s"""slice(array_sort(transform(sequence(0, maxd - 1),
          j -> struct(ap[j] AS a, j AS p))), 1,
          least(maxd, $IvfPerturbPlanes))""").as("ordm"))
      .withColumn("m", expr("size(ordm)"))
      .select(col("q_id"), col("sig"), col("ordm"), col("m"),
        explode(expr("sequence(0L, shiftleft(1L, m) - 1)")).as("sub"))
      .withColumn("score", expr(
        """aggregate(sequence(0, m - 1), 0L, (acc, i) ->
           acc + IF((sub >> i) & 1 = 1, ordm[i].a, 0L))"""))
      .withColumn("mask", expr(
        """aggregate(sequence(0, m - 1), 0L, (acc, i) ->
           acc + IF((sub >> i) & 1 = 1, shiftleft(1L, ordm[i].p), 0L))"""))
    val wR = Window.partitionBy(col("q_id"))
      .orderBy(col("score"), col("sub"))
    val sigsRk = subs
      .withColumn("rk", row_number().over(wR) - 1)
      .select(col("q_id"), col("rk"), expr("sig ^ mask").as("psig"))
    AnnFrames(sg, corpus, qs,
      sigsRk.join(broadcast(qs.select(col("q_id"), col("maxd"))), "q_id"))
  }

  /** Quota-elastic serving on the ADAPTIVE grid (q400) — the
    * round-15 verdict's top item: q398 proved the elastic stop rule
    * but its quantizer was pinned at 16 cells, so recall decayed with
    * corpus growth (SCALE.md). Here the grain tracks the corpus
    * (cells ∝ n / occupancy-target) and the stop rule probes q351's
    * confidence-ranked flip list against THAT grid — occupancy, and
    * therefore the recall/cost point, stays ~flat at any scale
    * (ScaleProbe's base/10x/100x rows). Output adds `n_cells`, the
    * deployed grain, so the record shows the grid deepening.
    */
  private[graft] def ivfElasticAdaptive(s: SparkSession, d: String,
      quota: Int, ceiling: Int,
      occupancy: Int = IvfServeOccupancy): DataFrame = {
    val fr = ivfServeFrames(s, d, occupancy)
    val probes = fr.sigsRk.filter(col("rk") < ceiling)
      .select(col("q_id"), col("rk"),
        expr("psig & (shiftleft(1L, maxd) - 1)").as("cell"))
    elasticStop(fr.corpus,
      fr.sg.select(col("vec_id"), col("qv"), col("nsq")),
      fr.qs.select(col("q_id"), col("q_qv"), col("q_nsq")),
      probes, Seq("cell"), quota, ceiling,
      Some(fr.qs.select(col("q_id"),
        expr("shiftleft(1L, maxd)").as("n_cells"))))
  }

  /** DuckDB mirror of [[ivfElasticAdaptive]] — self-contained after
    * the quantized CTEs; emits `grid(probe_budget, q_id, n_cells,
    * probes_used, n_cand, n_hit)`. The depth rule is
    * [[adaptiveDepthDuck]] at the serving floor/occupancy; the probe
    * order and stop rule are the shared closed form.
    */
  private def duckIvfAdaptiveCtes(quota: Int, ceiling: Int,
      occupancy: Int = IvfServeOccupancy): String =
    s"""sgq AS (SELECT vec_id, qv, nsq, ($sigDuck) AS sig FROM en),
      smd AS (SELECT ${adaptiveDepthDuck("COUNT(*)", occupancy,
          IvfServeFloorDepth)} AS maxd FROM en),
      corpus AS (SELECT vec_id,
          sig & ((CAST(1 AS BIGINT) << maxd) - 1) AS cell
        FROM sgq, smd),
      ${duckAdaptiveQueryHead("sgq", "smd")},
      ordm AS (SELECT q_id, sig,
          list_slice(list_sort([{'a': ap[j + 1], 'p': j}
              for j in range(0, maxd)]),
            1, LEAST(maxd, $IvfPerturbPlanes)) AS om
        FROM qraw),
      subs AS (SELECT q_id, sig, om, len(om) AS m,
          unnest(range(0, 1 << len(om))) AS sub
        FROM ordm),
      pert AS (SELECT q_id, sig, sub,
          list_sum([CASE WHEN (sub >> i) & 1 = 1
              THEN om[i + 1].a ELSE 0 END
            for i in range(0, m)]) AS score,
          list_sum([CASE WHEN (sub >> i) & 1 = 1
              THEN (CAST(1 AS BIGINT) << om[i + 1].p) ELSE 0 END
            for i in range(0, m)]) AS mask
        FROM subs),
      sigs AS (SELECT q_id,
          row_number() OVER (PARTITION BY q_id ORDER BY score, sub) - 1
            AS rk,
          xor(sig, mask) AS psig
        FROM pert),
      probesrk AS (SELECT q_id, rk,
          psig & ((CAST(1 AS BIGINT) << maxd) - 1) AS cell
        FROM sigs, smd WHERE rk < $ceiling),
      ${duckElasticStop("probesrk", "corpus", Seq("cell"), "qraw", quota,
        ceiling, Some(("smd", "(CAST(1 AS BIGINT) << smd.maxd)")))}"""

  /** Learned-centroid serving IVF (q401): a deterministic k-means
    * coarse quantizer composed with the shared quota-elastic stop rule.
    * Sizing follows the IVF rule of thumb (k ≈ sqrt(n); FAISS wiki
    * "Guidelines to choose an index"): k = max(16, 2^((bitlength(n)+1)
    * div 2)), computed IN-PLAN from the corpus count. Seeds are every
    * (n div k)-th vector (deterministic — k-means++ draws are not
    * SQL-mirrorable, q108's note), refined by ONE Lloyd step: exact-
    * integer argmin assignment (d2 = nsq - 2·dot + cnsq over the
    * quantized grid, ties to the lowest cid — q108's min-struct
    * discipline), then component MEANS back on the integer grid via
    * TRUNCATING division (Spark `div`, DuckDB `//` and Scala Long `/`
    * all truncate toward zero, so all three engines rebuild
    * bit-identical centroids). 100 TB plan: the k ≈ sqrt(n) centroid
    * frame stays a broadcast (n = 1e9 → k = 32k rows × 64 ints); BOTH
    * assignment passes are broadcast joins with map-side partial-agg
    * argmin (no corpus shuffle — the q108 header's plan); the update is
    * one (cid, dim)-keyed partial-agg shuffle of k·64 groups; at real
    * scale the trainer runs on a bounded sample while the assignment
    * pass is unchanged, and the corpus is written partitioned by `cell`
    * so the probe join IS partition pruning (LayoutSpec's pruned-scan
    * proof). Probe cost per query is one k-row broadcast scan + quota
    * rerank — the classic IVF n^(1/2) point on the tradeoff curve,
    * complementing q400's flat-work hyperplane point.
    */
  private[graft] def ivfCentroidServe(s: SparkSession, d: String,
      quota: Int, ceiling: Int): DataFrame = {
    val en = quantized(s, d, withSig = false)
    val nk = en.agg(count(lit(1)).as("n"))
      .select(col("n"),
        expr("greatest(16L, shiftleft(1L, " +
          "cast((length(bin(n)) + 1) div 2 as int)))").as("k"))
      .withColumn("stride", expr("greatest(1L, n div k)"))
    val seeds = en.crossJoin(broadcast(nk))
      .filter(expr("vec_id % stride = 0 AND vec_id div stride < k"))
      .select(expr("vec_id div stride").as("cid"),
        col("qv").as("cqv"), col("nsq").as("cnsq"))
    // argmin as min(struct(d2, cid)): broadcast join preserves corpus
    // partitioning, so partial aggregation collapses the k pair rows of
    // one vector to ONE row before any exchange (q108's shape).
    def argminCell(cents: DataFrame, out: String): DataFrame =
      en.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          (col("nsq") - lit(2) * expr(qdotSpark("qv", "cqv"))
            + col("cnsq")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as(out))
    val cent = argminCell(seeds, "cid").join(en, "vec_id")
      .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("m"))
      .select(col("cid"), col("dim"), expr("sq div m").as("v"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, v))), " +
        "x -> x.v)").as("cqv"))
      .withColumn("cnsq", expr(qnsqSpark("cqv")))
      .cache()
    val assign = argminCell(cent, "cell")
    val qsB = querySet(en)
    val wP = Window.partitionBy(col("q_id"))
      .orderBy(col("d2"), col("cid"))
    val probes = qsB.crossJoin(broadcast(cent))
      .select(col("q_id"), col("cid"),
        (col("q_nsq") - lit(2) * expr(qdotSpark("q_qv", "cqv"))
          + col("cnsq")).as("d2"))
      .withColumn("rk", row_number().over(wP) - 1)
      .filter(col("rk") < ceiling)
      .select(col("q_id"), col("rk"), col("cid").as("cell"))
    elasticStop(assign, en.select(col("vec_id"), col("qv"), col("nsq")),
      qsB, probes, Seq("cell"), quota, ceiling,
      Some(nk.select(col("k").as("n_cells"))))
  }

  /** DuckDB mirror of [[ivfCentroidServe]] — self-contained after the
    * quantized CTEs; emits `grid(probe_budget, q_id, n_cells,
    * probes_used, n_cand, n_hit)`. The trainer CTEs mirror the Spark stages 1:1 (strided
    * seeds, exact-integer argmin with cid tie-break, truncating-div
    * component means — DuckDB `//` and Spark `div` both truncate toward
    * zero); the stop tail is the shared closed form.
    */
  private def duckIvfCentroidCtes(quota: Int, ceiling: Int): String =
    s"""nk AS (SELECT COUNT(*) AS n,
          GREATEST(16, 1 << ((length(to_base(COUNT(*), 2)) + 1) // 2))
            AS k
        FROM en),
      nks AS (SELECT n, k, GREATEST(1, n // k) AS stride FROM nk),
      seeds AS (SELECT vec_id // stride AS cid, qv AS cqv, nsq AS cnsq
        FROM en, nks WHERE vec_id % stride = 0 AND vec_id // stride < k),
      d1 AS (SELECT en.vec_id, s.cid,
          en.nsq - 2 * ${qdotDuck("en.qv", "s.cqv", Dims)} + s.cnsq AS d2
        FROM en, seeds s),
      a1 AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM d1) z
        WHERE rk = 1),
      exd AS (SELECT cid, u.dim AS dim, u.q AS q FROM (
          SELECT a.cid AS cid,
            unnest([{'dim': CAST(i - 1 AS INT), 'q': en.qv[i]}
              for i in range(1, ${Dims + 1})]) AS u
          FROM a1 a JOIN en ON en.vec_id = a.vec_id) z),
      csum AS (SELECT cid, dim, CAST(SUM(q) AS BIGINT) AS sq,
          CAST(COUNT(*) AS BIGINT) AS m
        FROM exd GROUP BY 1, 2),
      cent AS (SELECT cid, list(sq // m ORDER BY dim) AS cqv
        FROM csum GROUP BY 1),
      centn AS (SELECT cid, cqv, ${qnsqDuck("cqv", Dims)} AS cnsq
        FROM cent),
      d2f AS (SELECT en.vec_id, c.cid,
          en.nsq - 2 * ${qdotDuck("en.qv", "c.cqv", Dims)} + c.cnsq AS d2
        FROM en, centn c),
      assign AS (SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM d2f) z
        WHERE rk = 1),
      qset AS (${duckQuerySet("en")}),
      qd AS (SELECT q.q_id, c.cid,
          q.q_nsq - 2 * ${qdotDuck("q.q_qv", "c.cqv", Dims)} + c.cnsq
            AS d2
        FROM qset q, centn c),
      prk AS (SELECT q_id, rk - 1 AS rk, cid AS cell FROM (
          SELECT q_id, cid, row_number() OVER (PARTITION BY q_id
              ORDER BY d2, cid) AS rk FROM qd) z
        WHERE rk <= $ceiling),
      ${duckElasticStop("prk", "assign", Seq("cell"), "qset", quota,
        ceiling, Some(("nk", "CAST(nk.k AS BIGINT)")))}"""

  /** DuckDB mirror of [[ivfElastic]] — self-contained (the cells come
    * from [[duckCells4Cte]]); emits `grid(probe_budget, q_id,
    * probes_used, n_cand, n_hit)`. Same ranked probe list as q351
    * ([[duckProbeList4]]) and the same closed-form stop rule as q395's
    * mirror.
    */
  private def duckIvfElasticCtes(quota: Int, ceiling: Int): String =
    s"""$duckCells4Cte,
      $duckProbeList4,
      prk AS (SELECT q_id, i - 1 AS rk, plist[i] AS cell
        FROM pls, (SELECT unnest(range(1, $ceiling + 1)) AS i) z),
      ${duckElasticStop("prk", "cells", Seq("cell"), "pls", quota,
        ceiling)}"""

  /** q397's VERIFIED semantic pair relation (same adaptive leaf AND
    * exact-grid cosine >= [[SemThreshold]]) — the q391 `m`-join with
    * the verify applied, factored out so ScaleProbe's q397 stage
    * profile (round-16 verdict #5) times exactly the relation the
    * query composes.
    */
  private[graft] def semLeafPairs(s: SparkSession, d: String): DataFrame = {
    // the self-join below would otherwise canonicalize the 48-plane sig
    // tree on BOTH sides
    val sg = quantizedSigCut(s, d)
    val leaf = trieLeafAdaptive(sg.select(col("vec_id"), col("sig")),
      CellOccupancy)
    // EAGER materialization, not cache(): both self-join sides below
    // race an unmaterialized cache into computing the quant+leaf subtree
    // twice, and the checkpointed-RDD lineage means a cache() never
    // canonical-matches across runs anyway (see q397's `sided`).
    val c = sg.select(col("vec_id"), col("qv"), col("nsq"))
      .join(leaf, "vec_id").localCheckpoint(true)
    c.select(col("vec_id").as("doc_a"), col("depth"),
        col("cell"), col("qv").as("qv_a"), col("nsq").as("nsq_a"))
      .join(c.select(col("vec_id").as("doc_b"),
        col("depth").as("d_b"), col("cell").as("cell_b"),
        col("qv").as("qv_b"), col("nsq").as("nsq_b")),
        col("depth") === col("d_b") && col("cell") === col("cell_b")
          && col("doc_a") < col("doc_b"))
      .filter(expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)")
        >= SemThreshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** q391/q397's candidate relation — same-adaptive-leaf pairs BEFORE
    * the cosine verify (the structural twin of q391's `m` join and
    * q397's `spairs`, kept column-light for counting). Exposed for
    * ScaleProbe's growth table: the adaptive grain bounds this at
    * ~cap·n plus the audited remainder's in-cell pairs, and the 10x
    * row is the empirical check.
    */
  private[graft] def trieLeafPairCandidates(s: SparkSession,
      d: String): DataFrame = {
    val sg = quantizedSigCut(s, d)
    val leaf = trieLeafAdaptive(sg.select(col("vec_id"), col("sig")),
      CellOccupancy)
    leaf.select(col("vec_id").as("kept"), col("depth"), col("cell"))
      .join(leaf.select(col("vec_id"), col("depth").as("d_b"),
        col("cell").as("cell_b")),
        col("depth") === col("d_b") && col("cell") === col("cell_b")
          && col("kept") < col("vec_id"))
      .select(col("kept").as("doc_a"), col("vec_id").as("doc_b"))
  }

  /** The frames every trie-ANN variant shares: the quantized corpus
    * with signatures (`sg`), each vector's adaptive leaf (`corpus`),
    * the broadcast query set with its plane-confidence array (`qs`),
    * and the ranked probe signatures (`sigsRk`: one row per (q_id, rk)
    * with rk = 0 the query's own signature, rk >= 1 the rk-th
    * least-confident-plane flip). One definition, so q392/q394's fixed
    * budgets and q395's elastic rule cannot drift on the probe rule.
    */
  private final case class AnnFrames(sg: DataFrame, corpus: DataFrame,
      qs: DataFrame, sigsRk: DataFrame)

  private def trieAnnFrames(s: SparkSession, d: String): AnnFrames = {
    val sg = quantizedSigCut(s, d)
    val sgk = sg.select(col("vec_id"), col("sig"))
    val leaves = trieLeafAdaptive(sgk, CellOccupancy)
    val corpus = sg.select(col("vec_id")).join(leaves, "vec_id")
    val qs = adaptiveQueryHead(sg, sgk.agg(count(lit(1)).as("n_src")),
      CellOccupancy, TrieDepthFloor)
    // flip candidates ranked by confidence: (|proj|, plane) ascending
    // over the deployed planes — a query-set-sized frame
    val wR = Window.partitionBy(col("q_id")).orderBy(col("apv"), col("pos"))
    val flips = qs.select(col("q_id"), col("sig"),
        posexplode(expr("slice(ap, 1, maxd)")).as(Seq("pos", "apv")))
      .withColumn("rk", row_number().over(wR))
      .select(col("q_id"), col("rk"),
        expr("sig ^ shiftleft(1L, pos)").as("psig"))
    val own = qs.select(col("q_id"), lit(0).as("rk"), col("sig").as("psig"))
    AnnFrames(sg, corpus, qs,
      own.unionByName(flips)
        .join(broadcast(qs.select(col("q_id"), col("maxd"))), "q_id"))
  }

  /** The distinct trie cells a set of probe signatures `sigs` (`keys`...,
    * psig, maxd) reaches: each signature's prefix cell at every depth
    * 4..maxd, one row per (`keys`..., depth, cell).
    */
  private def trieProbeCells(sigs: DataFrame, keys: String*): DataFrame =
    sigs.select(keys.map(col) :+ explode(expr(
        """transform(sequence(4, maxd), dd ->
           struct(dd AS depth, psig & (shiftleft(1L, dd) - 1) AS cell))"""))
        .as("x"): _*)
      .select(keys.map(col) ++ Seq(
        col("x.depth").as("depth"), col("x.cell").as("cell")): _*)
      .distinct()

  /** The audit's budget-independent ground truth: exact top-[[K]] per
    * query over the whole corpus (id-tiebroken exact-grid cosines).
    */
  private def exactTopK(sg: DataFrame, qs: DataFrame): DataFrame =
    cosineTopK(sg.select(col("vec_id"), col("qv"), col("nsq"))
        .crossJoin(broadcast(qs.select(col("q_id"), col("q_qv"),
          col("q_nsq"))))
        .filter(col("vec_id") =!= col("q_id")))
      .select(col("q_id"), col("vec_id"))

  /** Budget-parameterized trie-ANN recall audit, shared by q392 (one
    * budget) and q394 (the sweep) — and driven by ScaleProbe on the 10x
    * corpus for the recall-vs-growth table. Probe rule: a query's probe
    * signatures are its own, plus its signature with the rk-th
    * least-confident plane flipped (rank = (|projection|, plane index)
    * ascending over planes 0..maxd-1) for rk < budget — multiprobe in
    * plane-confidence order, the q47 trick at the trie grain. maxd is
    * the SAME adaptive ceiling the leaf index used
    * ([[adaptiveTrieDepth]], computed in-plan from the corpus count),
    * so probes deepen with the index. Output: one row per
    * (probe_budget, q_id) with the candidate count and the
    * exact-top-K hit count. 100 TB plan: ranking/flip frames are
    * query-set-sized (broadcast); candidates are `budget` leaf lookups
    * per query; the corpus-scanning exact leg exists only for the
    * audit. Its candidate/re-rank tail stays separate from
    * [[elasticStop]]'s: q395's QueriesSpec case checks the elastic rule
    * against this sweep, which a shared tail would reduce to comparing
    * one path with itself.
    */
  private[graft] def trieAnnRecall(s: SparkSession, d: String,
      budgets: Seq[Int]): DataFrame = {
    import s.implicits._
    val fr = trieAnnFrames(s, d)
    val sg = fr.sg
    val corpus = fr.corpus
    val qs = fr.qs
    val budgetDf = budgets.toDF("probe_budget")
    val probes = trieProbeCells(fr.sigsRk
      .crossJoin(broadcast(budgetDf))
      .filter(col("rk") < col("probe_budget")), "probe_budget", "q_id")
    val cand = corpus.join(broadcast(probes), Seq("depth", "cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("probe_budget"), col("q_id"), col("vec_id")).distinct()
      .join(sg.select(col("vec_id"), col("qv"), col("nsq")), "vec_id")
      .cache()
    val wB = Window.partitionBy(col("probe_budget"), col("q_id"))
      .orderBy(col("c").desc, col("vec_id"))
    val trieTop = cand
      .join(broadcast(qs.select(col("q_id"), col("q_qv"), col("q_nsq"))),
        "q_id")
      .withColumn("c", expr("qcosine(q_qv, qv, q_nsq, nsq)"))
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= K)
      .select(col("probe_budget"), col("q_id"), col("vec_id"))
    // the budget-independent exact leg — the audit's ground truth
    val exactTop = exactTopK(sg, qs)
    val hits = trieTop.join(exactTop, Seq("q_id", "vec_id"))
      .groupBy(col("probe_budget"), col("q_id"))
      .agg(count(lit(1)).as("n_hit"))
    val nc = cand.groupBy(col("probe_budget"), col("q_id"))
      .agg(count(lit(1)).as("n_cand"))
    qs.select(col("q_id")).crossJoin(broadcast(budgetDf))
      .join(nc, Seq("probe_budget", "q_id"), "left")
      .join(hits, Seq("probe_budget", "q_id"), "left")
      .select(col("probe_budget"), col("q_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** The CTEs every trie-ANN oracle shares — the [[trieAnnFrames]]
    * mirror: `corpus` (leaf per vector), `qraw` (query set +
    * plane-confidence array), `ranked`/`sigs` (the ranked-flip probe
    * signatures, rk = 0 the query's own) and `probesrk` (q_id, rk,
    * depth, cell): each signature of rank < `maxRk` at every depth
    * 4..maxd, the [[trieProbeCells]] mirror. One definition, so
    * q392/q394/q395 cannot drift on the probe rule.
    */
  private def duckAnnBaseCtes(maxRk: Int): String =
    s"""corpus AS (SELECT s.vec_id, l.depth, l.cell
        FROM sg s JOIN leaf l ON l.vec_id = s.vec_id),
      ${duckAdaptiveQueryHead("sg", "tmd")},
      ranked AS (SELECT q_id, sig, pos, ap[pos + 1] AS apv,
          row_number() OVER (PARTITION BY q_id
            ORDER BY ap[pos + 1], pos) AS rk
        FROM qraw, (SELECT unnest(range(0, $Planes)) AS pos) z
        WHERE pos < maxd),
      sigs AS (SELECT q_id, 0 AS rk, sig AS psig FROM qraw
        UNION ALL
        SELECT q_id, rk, xor(sig, CAST(1 AS BIGINT) << pos) AS psig
        FROM ranked),
      probesrk AS (SELECT DISTINCT q_id, rk, d AS depth,
          psig & ((CAST(1 AS BIGINT) << d) - 1) AS cell
        FROM (SELECT s.q_id, s.rk, s.psig,
                unnest(range(4, tmd.maxd + 1)) AS d
              FROM sigs s, tmd WHERE s.rk < $maxRk) y)"""

  /** DuckDB mirror of [[trieAnnRecall]] — expects the quantized CTEs,
    * `sg(vec_id, qv, nsq, sig)`, and [[duckTrieLeafCte]]'s `leaf`/`tmd`
    * in scope; emits `grid(probe_budget, q_id, probes_used, n_cand,
    * n_hit)`. Budget b keeps the candidates first reached below rank b,
    * so one first-reaching rank at the largest budget serves the whole
    * sweep through [[duckAnnAudit]] — the tail q395's quota rule reads.
    */
  private def duckTrieAnnCtes(budgets: Seq[Int]): String =
    s"""${duckAnnBaseCtes(budgets.max)},
      ${duckAnnAudit("probesrk", "corpus", Seq("depth", "cell"), "qraw",
        s"""bud AS (SELECT unnest([${budgets.mkString(", ")}])
          AS probe_budget),
      cut AS (SELECT b.probe_budget, q.q_id, b.probe_budget - 1 AS rcut,
          b.probe_budget AS probes_used
        FROM qraw q CROSS JOIN bud b)""")}"""

  /** Quota-elastic trie-ANN (q395): q394's sweep shows a FIXED probe
    * budget both starves some queries (the min_q_recall floor) and
    * over-probes others — candidate mass per probe is the leaf
    * occupancy, which varies per query. The serving rule that
    * normalizes it: probe in confidence-rank order and STOP once the
    * cumulative distinct candidate count reaches `quota` (or the
    * `ceiling` probe budget is exhausted). Per (q_id, vec_id) the
    * first rank that reaches it decides membership, so the chosen set
    * is exactly "all candidates of the first r probes" for the
    * per-query minimal r meeting the quota — deterministic, and
    * mirrored closed-form in the oracle (no iteration: min-rank +
    * one cumulative window decide r). 100 TB plan: rank/quota frames
    * are query-set-sized; candidate cost per query is bounded by
    * quota + one leaf's occupancy overshoot; only the audit's exact
    * leg scans the corpus.
    */
  private[graft] def trieAnnElastic(s: SparkSession, d: String,
      quota: Int, ceiling: Int): DataFrame = {
    val fr = trieAnnFrames(s, d)
    val sg = fr.sg
    val corpus = fr.corpus
    val qs = fr.qs
    // probes kept rk-grained so the stop rule can pick a per-query
    // prefix of the rank order
    val probes =
      trieProbeCells(fr.sigsRk.filter(col("rk") < ceiling), "q_id", "rk")
    elasticStop(corpus,
      sg.select(col("vec_id"), col("qv"), col("nsq")),
      qs.select(col("q_id"), col("q_qv"), col("q_nsq")),
      probes, Seq("depth", "cell"), quota, ceiling)
  }

  /** DuckDB mirror of [[trieAnnElastic]] — same scope expectations as
    * [[duckTrieAnnCtes]]; emits `grid(probe_budget, q_id, probes_used,
    * n_cand, n_hit)`. The stop rule is the same closed form: per-candidate
    * first-reaching rank, one cumulative window, per-query minimal
    * rank meeting the quota.
    */
  private def duckTrieAnnElasticCtes(quota: Int, ceiling: Int): String =
    s"""${duckAnnBaseCtes(ceiling)},
      ${duckElasticStop("probesrk", "corpus", Seq("depth", "cell"), "qraw",
        quota, ceiling)}"""

  /** q386's greedy MMR unroll with K as a parameter (round-12 verdict
    * #7 — serving-realistic K is 20-50, not 5). Per stage, NO
    * corpus-sized shuffle: the selected set is collapsed to ONE
    * <= K-element array per query (a <= nq*K-row aggregate), broadcast
    * back onto the cached relevance frame, and the
    * max-similarity-to-selected is row-local higher-order array math;
    * the per-query argmax is a max-struct aggregate whose exchange
    * carries only map-side partials (<= partitions x nq rows). Shuffle
    * rows per stage are therefore O(nq * K + partitions * nq),
    * independent of the corpus — ScaleSpec pins the whole-job shuffle
    * record count at K = 20 well under the corpus size, the bound the
    * round-12 shape (selected set joined as ROWS, with a corpus-sized
    * (q_id, vec_id) group-max between the join and the argmax) would
    * break at corpus x K. The per-stage localCheckpoint is q261's
    * lineage discipline (the plan otherwise grows ~3^K copies of
    * stage 1 and re-executes them all).
    */
  private[graft] def mmrSelect(s: SparkSession, d: String,
      k: Int): DataFrame = {
    val en = quantized(s, d, withSig = false)
    val rel = en.crossJoin(broadcast(querySet(en)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cq", expr("qcosine(q_qv, qv, q_nsq, nsq)"))
      .select(col("q_id"), col("vec_id"), col("cq"), col("qv"),
        col("nsq")).cache()
    var all = rel.groupBy(col("q_id"))
      .agg(max(struct(col("cq"), (-col("vec_id")).as("nid"))).as("m"))
      .select(col("q_id"), (-col("m.nid")).as("neighbor_id"),
        col("m.cq").as("relevance"), col("m.cq").as("mmr_score"),
        lit(1).as("mmr_rank"))
    all = all.localCheckpoint()
    for (t <- 2 to k) {
      // explicit broadcast on every picked-set use: the <= nq*K-row
      // frame comes off a localCheckpoint (unknown size stats), so the
      // planner would otherwise SMJ-shuffle the corpus-sized rel here
      val picked = all.select(col("q_id"), col("neighbor_id"))
      // the selected set as ONE array per query: <= nq*(t-1) rows into
      // the aggregate, nq rows out, broadcast onto the relevance frame
      val selArr = rel
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          col("qv").as("s_qv"), col("nsq").as("s_nsq"))
        .join(broadcast(picked), Seq("q_id", "neighbor_id"))
        .groupBy(col("q_id"))
        .agg(collect_list(struct(col("s_qv"), col("s_nsq"))).as("sel"))
      val top = rel
        .join(broadcast(picked.withColumnRenamed("neighbor_id", "vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
        .join(broadcast(selArr), "q_id")
        // row-local max over the <= K selected vectors (same qcosine
        // doubles, max is order-invariant — bit-equal to the row form)
        .withColumn("ms", expr(
          "array_max(transform(sel, e -> qcosine(qv, e.s_qv, nsq, e.s_nsq)))"))
        .withColumn("score",
          lit(0.7) * col("cq") - lit(0.3) * col("ms"))
        .groupBy(col("q_id"))
        .agg(max(struct(col("score"), (-col("vec_id")).as("nid"),
          col("cq"))).as("m"))
        .select(col("q_id"), (-col("m.nid")).as("neighbor_id"),
          col("m.cq").as("relevance"), col("m.score").as("mmr_score"),
          lit(t).as("mmr_rank"))
      all = all.unionByName(top).localCheckpoint()
    }
    all.select(col("q_id").as("query_id"), col("mmr_rank"),
      col("neighbor_id"), col("relevance"), col("mmr_score"))
  }
}

