package graft.queries

import graft.Tables
import graft.functions.Portable
import graft.multimodal.{DispatchCodec, Media}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked slice of the multimodal surface: binary payload columns
  * behave like first-class values (length, content hash, modality
  * grouping). The decode/feature path is validated in MultimodalSpec
  * (no DuckDB analog for the stubbed codec).
  */
object Multimodal {

  /** q333 consistency floor: pairs whose image/text-tower cosine falls
    * below this are flagged (pinned to split the fixture non-trivially;
    * see q333's header).
    */
  private val XmodalFloor = 0.0

  /** q352 perceptual near-dup threshold (hamming bits over the 60-bit
    * phash; pinned to split the fixture's candidate pairs non-trivially).
    */
  private[graft] val PhashThreshold = 10

  /** q378 audio-fingerprint near-dup threshold (hamming bits over the
    * 60-bit sign-delta fingerprint; pinned to split the fixture's
    * candidate pairs non-trivially at every SF — hamming ranges
    * 14–32 / 13–31 / 0–41 at sf0.001/0.01/0.1).
    */
  private[graft] val AudioFpThreshold = 18

  /** q352/q378 band-bucket occupancy cap (the q42 linearity discipline). */
  private[graft] val PhashBucketCap = 64

  /** The decoded modality "tower": every asset of one modality through
    * the real codec plumbing (DispatchCodec → documented FakeCodec for
    * the fixture's synthetic payloads), mean-pool-bucketed into 64 exact
    * integer sums — byte sums (`square=false`, the q333/q352 image
    * tower) or byte-energy sums (`square=true`, the q378 audio tower:
    * PCM energy is the squared sample, and squaring the recovered byte
    * keeps it exact integer math). Empty payloads are excluded on BOTH
    * engines (the oracle's positional-character mirror has no i % 0
    * escape). mapPartitions is the sanctioned media-decode site:
    * per-partition batches, no per-row driver work.
    */
  private def towers(s: SparkSession, d: String, kind: String,
      square: Boolean): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Media.fromDocuments(s, d)
      .filter(col("kind") === kind && length(col("content")) > 0)
      .as[Media.MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val grid = DispatchCodec.decode(r.content, r.meta)
          val m = new Array[Long](64)
          var i = 0
          while (i < grid.length) {
            // grid value is b/255f; *255 + round recovers b exactly
            val b = math.round(grid(i) * 255f).toLong
            m(i * 64 / grid.length) += (if (square) b * b else b)
            i += 1
          }
          (r.media_id, m)
        }
      }.toDF("media_id", "m")
  }

  private def imageTowers(s: SparkSession, d: String) =
    towers(s, d, "image", square = false)

  private def audioTowers(s: SparkSession, d: String) =
    towers(s, d, "audio", square = true)

  /** DuckDB mirror of [[towers]]: the FakeCodec grid is derived
    * arithmetically from the payload bytes, ending as `ml(doc_id, m)` —
    * the 64-bucket integer sums per asset of the `residue` modality
    * (doc_id % 3: 0 = image, 1 = audio, 2 = video).
    *
    * ASCII-FIXTURE ASSUMPTION: the mirror reads payload byte i as
    * `unicode(substring(text, i % n_chars + 1, 1))`, which equals the
    * UTF-8 byte only when every character is single-byte ASCII with
    * code point == byte (then UTF-8 length == n_chars too). The driver
    * fixture is ASCII by construction; MultimodalSpec's golden pins
    * would catch a fixture change. `n_chars > 0` is guarded on both
    * engines (Spark: payload length > 0) — DuckDB's `i % 0` errors on
    * an empty text where FakeCodec returns a zero grid.
    */
  private def towersDuckCteFor(residue: Int, square: Boolean): String = {
    val v = "unicode(substring(text, CAST(i % n_chars AS INT) + 1, 1))"
    val vExpr = if (square) s"$v * $v" else v
    s"""img AS (SELECT doc_id, text, n_chars,
        ((n_chars % 64 + 1) * (n_chars % 48 + 1) * 3) AS n
      FROM documents WHERE doc_id % 3 = $residue AND n_chars > 0),
    g AS (SELECT doc_id, (i * 64) // n AS k,
        $vExpr AS v
      FROM (SELECT doc_id, text, n_chars, n,
          unnest(range(0, n)) AS i FROM img) z),
    sp AS (SELECT doc_id, k, CAST(SUM(v) AS BIGINT) AS mv
      FROM g GROUP BY 1, 2),
    dn AS (SELECT img.doc_id, ks.k, COALESCE(sp.mv, 0) AS mv
      FROM (SELECT doc_id FROM img) img
      CROSS JOIN (SELECT unnest(range(0, 64)) AS k) ks
      LEFT JOIN sp ON sp.doc_id = img.doc_id AND sp.k = ks.k),
    ml AS (SELECT doc_id, list(mv ORDER BY k) AS m FROM dn GROUP BY 1)"""
  }

  private val towersDuckCte: String =
    towersDuckCteFor(residue = 0, square = false)

  /** q352's 60-bit aHash frame `(media_id, fp)` over the image towers —
    * exposed (with [[audioFingerprint]]) so ScaleProbe measures the
    * same signatures the queries band.
    */
  private[graft] def imagePhash(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    imageTowers(s, d)
      .withColumn("msum", expr("aggregate(m, 0L, (a, v) -> a + v)"))
      .select(col("media_id"), expr(
        """aggregate(sequence(0, 59), 0L, (acc, i) ->
           acc + IF(element_at(m, i + 1) * 64 >= msum,
             shiftleft(1L, i), 0L))""").as("fp"))

  /** q378's 60-bit sign-delta fingerprint `(media_id, fp)` over the
    * audio energy towers.
    */
  private[graft] def audioFingerprint(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    audioTowers(s, d)
      .select(col("media_id"), expr(
        """aggregate(sequence(0, 59), 0L, (acc, i) ->
           acc + IF(element_at(m, i + 2) >= element_at(m, i + 1),
             shiftleft(1L, i), 0L))""").as("fp"))

  /** The candidate stage of [[bandedHammingPairs]] alone — q42's band
    * builders with the media id, fingerprint and cap. Unlike q42 the
    * band rows are not checkpointed: PlanSpec's q352 case reads the
    * band-count aggregate in this plan. Exposed so ScaleProbe and
    * ScaleSpec can measure candidate-count growth across corpus sizes
    * without scoring the pairs.
    */
  private[graft] def bandedCandidates(ph: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Dedup.bandPairs(Dedup.coolBands(
      ph.select(col("media_id"), col("fp").as("sig")), nBands = 4,
      width = 15, id = "media_id", cap = PhashBucketCap), id = "media_id")

  /** 4x15-bit band-bucketed candidate pairs over a 60-bit fingerprint
    * frame `ph(media_id, fp)` (cache it in the caller — it feeds the
    * bands and both pair sides), hamming-scored against `threshold` —
    * q42's candidate builders ([[Dedup.coolBands]]), shared
    * by q352 (image aHash) and q378 (audio sign-delta fingerprint) so
    * the two media near-dup families can't drift apart.
    */
  private def bandedHammingPairs(ph: org.apache.spark.sql.DataFrame,
      threshold: Int): org.apache.spark.sql.DataFrame = {
    bandedCandidates(ph)
      .join(ph.select(col("media_id").as("media_a"),
        col("fp").as("pa")), "media_a")
      .join(ph.select(col("media_id").as("media_b"),
        col("fp").as("pb")), "media_b")
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .select(col("media_a"), col("media_b"), col("hamming"),
        (col("hamming") <= threshold).as("near_dup"))
  }

  /** DuckDB mirror of [[bandedHammingPairs]] — the terminal CTE chain +
    * SELECT; expects `ph(media_id, fp)` in scope.
    */
  private def bandedHammingDuck(threshold: Int): String =
    s"""${Dedup.duckBandCandidates("ph", 4, 15, id = "media_id", sig = "fp",
          cap = PhashBucketCap)}
      SELECT media_a, media_b,
        CAST(bit_count(xor(x.fp, y.fp)) AS INT) AS hamming,
        bit_count(xor(x.fp, y.fp)) <= $threshold AS near_dup
      FROM cand JOIN ph x ON x.media_id = media_a
                JOIN ph y ON y.media_id = media_b"""

  val all: Seq[QuerySpec] = Seq(
    QuerySpec(
      "q60_media_catalog",
      // md5(utf8-bytes) ≡ DuckDB md5(text); kinds cycle by doc_id % 3.
      Some("""SELECT kind, COUNT(*) AS n_assets,
          CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
          COUNT(DISTINCT md5(text)) AS n_distinct_payloads,
          MAX(CAST(n_chars * 10 AS BIGINT)) AS max_duration_ms
        FROM (SELECT *, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)]
            AS kind FROM documents) z
        GROUP BY kind"""),
      (s: SparkSession, d: String) =>
        Media.fromDocuments(s, d)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_assets"),
            sum(length(col("content"))).as("total_bytes"),
            countDistinct(md5(col("content"))).as("n_distinct_payloads"),
            max(col("meta.duration_ms")).as("max_duration_ms"))),

    // ---- paired cross-modal consistency gate (CLIP-score shape) -----------
    // The image–text filter every multimodal pipeline runs before
    // training (CLIP-score filtering, Schuhmann et al. LAION 2021):
    // join each IMAGE asset of q60's media catalog to its paired
    // embedding (embeddings.vec_id == media_id — the "text tower") and
    // flag pairs whose cosine falls below a floor. The "image tower"
    // here is derived from the DECODED payload through the real codec
    // plumbing — DispatchCodec routes meta.codec='fake/v1' to the
    // documented FakeCodec stub (payload byte b_i tiled into a
    // width*height*3 grid) — then mean-pool-style bucketed into 64
    // integer byte sums (bucket = i*64 div n, Media.meanPool's bucket
    // map; sums not means — scale cancels under cosine up to per-bucket
    // counts, and integer sums are exactly portable). Cosine runs on
    // Portable's quantized-int grid: exact int64 dot and norms, one
    // pinned IEEE sqrt-divide tree, floored to 1e-6 for output.
    // 100 TB plan: decode is mapPartitions (the sanctioned media-decode
    // site — per-partition batches, no per-row driver work); towers and
    // embeddings join keyed on media_id (both sides corpus-scaled,
    // shuffle join, never broadcast); the gate is row-local.
    QuerySpec(
      "q333_crossmodal_gate", {
        val qe = Portable.qvecDuck("embedding", 64)
        Some(s"""WITH $towersDuckCte,
        pr AS (SELECT ml.doc_id AS media_id, ml.m, $qe AS q
          FROM ml JOIN embeddings e ON e.vec_id = ml.doc_id),
        sc AS (SELECT media_id,
            CAST(list_sum([m[i] * q[i] for i in range(1, 65)]) AS BIGINT)
              AS dot,
            CAST(list_sum([m[i] * m[i] for i in range(1, 65)]) AS BIGINT)
              AS na,
            CAST(list_sum([q[i] * q[i] for i in range(1, 65)]) AS BIGINT)
              AS nb
          FROM pr),
        cs AS (SELECT media_id,
            ${Portable.cosDuck("dot", "na", "nb")} AS c
          FROM sc WHERE na > 0 AND nb > 0)
        SELECT media_id, floor(c * 1000000.0) / 1000000.0 AS cosine,
          c < $XmodalFloor AS flagged
        FROM cs""")
      },
      (s: SparkSession, d: String) => {
        val towers = imageTowers(s, d)
        val emb = Tables.load(s, d, "embeddings")
          .select(col("vec_id"),
            expr(Portable.qvecSpark("embedding")).as("q"))
        towers.join(emb, col("media_id") === col("vec_id"))
          .select(col("media_id"),
            expr("aggregate(zip_with(m, q, (a, b) -> a * b), 0L, " +
              "(acc, v) -> acc + v)").as("dot"),
            expr(Portable.qnsqSpark("m")).as("na"),
            expr(Portable.qnsqSpark("q")).as("nb"))
          .filter(col("na") > 0 && col("nb") > 0)
          .withColumn("c", col("dot").cast("double")
            / (sqrt(col("na").cast("double"))
              * sqrt(col("nb").cast("double"))))
          .select(col("media_id"),
            (floor(col("c") * lit(1000000.0)) / lit(1000000.0))
              .as("cosine"),
            (col("c") < XmodalFloor).as("flagged"))
      }),

    // ---- perceptual-hash media near-dup (aHash over decoded pixels) --------
    // Image dedup the way a multimodal corpus actually needs it: exact
    // byte-hash dedup (q60's n_distinct_payloads) misses re-encoded or
    // slightly-edited assets, so the industry runs PERCEPTUAL hashes
    // over decoded pixels. This is average-hash (aHash) on the real
    // decode path: each asset's 64-bucket pooled byte sums (the q333
    // tower) threshold against their own mean — bit i set iff
    // m[i]*64 >= sum(m), exact integer math, no division — giving a
    // 60-bit signature; candidates come from 4x15-bit band buckets with
    // the q42 occupancy cap (linearity by construction), and every
    // candidate pair ships with its hamming distance plus the pinned
    // near-dup verdict. 100 TB plan: decode once (mapPartitions), the
    // signature is 8 bytes per asset, bands shuffle on 15-bit keys, the
    // pair join is bucket-bounded — never all-pairs over assets.
    QuerySpec(
      "q352_media_phash_dedup",
      Some(s"""WITH $towersDuckCte,
        ph AS (SELECT doc_id AS media_id,
            list_sum([CASE WHEN m[i + 1] * 64 >= msum
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
              for i in range(0, 60)]) AS fp
          FROM (SELECT doc_id, m, list_sum(m) AS msum FROM ml) z),
        ${bandedHammingDuck(PhashThreshold)}"""),
      (s: SparkSession, d: String) => {
        // 8 bytes/asset; cached — feeds bands and both pair sides
        bandedHammingPairs(imagePhash(s, d).cache(), PhashThreshold)
      }),

    // ---- audio perceptual-fingerprint near-dup (sign-delta over energy) ----
    // q352's discipline for the AUDIO modality (the round-10 verdict's
    // unused-WAV-path item): exact byte-hash dedup misses re-encoded or
    // slightly-trimmed audio, so near-dup runs on a PERCEPTUAL
    // fingerprint of the decoded waveform — the q333 tower discipline
    // with ENERGY (squared-sample) bucket sums, then the classic
    // spectral-delta shape (Haitsma & Kalker 2002's sign-of-difference
    // bits, here over the 64 energy buckets): bit i of the 60-bit
    // fingerprint is set iff energy[i+1] >= energy[i] — loudness-scale
    // sensitivity cancels in the COMPARISON of adjacent buckets, which
    // is why fingerprinting uses deltas, not levels. Candidates,
    // occupancy cap, hamming verdict: bandedHammingPairs verbatim
    // (shared with q352, so the two media families can't drift).
    // 100 TB plan: decode once (mapPartitions, the sanctioned site),
    // 8 bytes/asset after the towers, bands shuffle on 15-bit keys,
    // pair join bucket-bounded — never all-pairs over assets.
    QuerySpec(
      "q378_audio_fingerprint_dedup",
      Some(s"""WITH ${towersDuckCteFor(residue = 1, square = true)},
        ph AS (SELECT doc_id AS media_id,
            list_sum([CASE WHEN m[i + 2] >= m[i + 1]
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
              for i in range(0, 60)]) AS fp
          FROM ml),
        ${bandedHammingDuck(AudioFpThreshold)}"""),
      (s: SparkSession, d: String) => {
        // 8 bytes/asset; cached — feeds bands and both pair sides
        bandedHammingPairs(audioFingerprint(s, d).cache(), AudioFpThreshold)
      }),

    // ---- cross-modal retrieval recall@k (the post-gate eval readout) -------
    // q333 gates pairs on their own image-text cosine; this measures
    // whether the shared space actually RETRIEVES: over the paired
    // corpus (image tower ↔ its text embedding, vec_id == media_id),
    // text→image and image→text recall@{1,5} for a bounded query set
    // (media_id < 100 — 34 queries at every SF) — the CLIP-style
    // retrieval eval (Radford et al. 2021) a multimodal pipeline runs
    // after the consistency gate. A query's TRUE answer is its own
    // pair, so recall@k = fraction of queries whose pair ranks in the
    // top k of the whole paired corpus under cross-space cosine (q333's
    // exact integer dot/norms; ties break on candidate id). 100 TB
    // plan: q375's discipline — each direction broadcasts the bounded
    // query set against ONE linear corpus scan; per-query top-k windows
    // partition on q_id and push the rank limit (WindowGroupLimit);
    // decode runs once through the sanctioned mapPartitions site; no
    // corpus-sized shuffle or broadcast.
    QuerySpec(
      "q381_crossmodal_recall", {
        val qe = Portable.qvecDuck("embedding", 64)
        Some(s"""WITH $towersDuckCte,
        mn AS (SELECT doc_id, m,
            CAST(list_sum([m[i] * m[i] for i in range(1, 65)]) AS BIGINT)
              AS nm
          FROM ml),
        eq AS (SELECT vec_id, $qe AS qv FROM embeddings),
        eqn AS (SELECT vec_id, qv,
            CAST(list_sum([qv[i] * qv[i] for i in range(1, 65)]) AS BIGINT)
              AS nq
          FROM eq),
        paired AS (SELECT mn.doc_id AS id, mn.m, mn.nm, e.qv, e.nq
          FROM mn JOIN eqn e ON e.vec_id = mn.doc_id
          WHERE mn.nm > 0 AND e.nq > 0),
        qs1 AS (SELECT id AS q_id, qv AS av, nq AS an FROM paired
          WHERE id < 100),
        p1 AS (SELECT q.q_id, c.id AS cid,
            ${Portable.qcosDuck("q.av", "c.m", "q.an", "c.nm", 64)}
              AS cosine
          FROM paired c, qs1 q),
        r1 AS (SELECT q_id, cid, row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, cid) AS rk FROM p1),
        h1 AS (SELECT q_id,
            MAX(CASE WHEN cid = q_id AND rk <= 1 THEN 1 ELSE 0 END) AS h1,
            MAX(CASE WHEN cid = q_id AND rk <= 5 THEN 1 ELSE 0 END) AS h5
          FROM r1 WHERE rk <= 5 GROUP BY 1),
        a1 AS (SELECT 't2i' AS direction, CAST(COUNT(*) AS BIGINT) AS nq,
            CAST(SUM(h1) AS BIGINT) AS s1, CAST(SUM(h5) AS BIGINT) AS s5
          FROM h1),
        qs2 AS (SELECT id AS q_id, m AS av, nm AS an FROM paired
          WHERE id < 100),
        p2 AS (SELECT q.q_id, c.id AS cid,
            ${Portable.qcosDuck("q.av", "c.qv", "q.an", "c.nq", 64)}
              AS cosine
          FROM paired c, qs2 q),
        r2 AS (SELECT q_id, cid, row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, cid) AS rk FROM p2),
        h2 AS (SELECT q_id,
            MAX(CASE WHEN cid = q_id AND rk <= 1 THEN 1 ELSE 0 END) AS h1,
            MAX(CASE WHEN cid = q_id AND rk <= 5 THEN 1 ELSE 0 END) AS h5
          FROM r2 WHERE rk <= 5 GROUP BY 1),
        a2 AS (SELECT 'i2t' AS direction, CAST(COUNT(*) AS BIGINT) AS nq,
            CAST(SUM(h1) AS BIGINT) AS s1, CAST(SUM(h5) AS BIGINT) AS s5
          FROM h2),
        u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
        SELECT direction, k, nq AS n_queries,
          CASE WHEN k = 1 THEN s1 ELSE s5 END AS n_hits,
          (CASE WHEN k = 1 THEN s1 ELSE s5 END * 1000) // nq
            AS recall_milli
        FROM u, (SELECT unnest([1, 5]) AS k) kk""")
      },
      (s: SparkSession, d: String) => {
        val towers = imageTowers(s, d)
          .withColumn("nm", expr(Portable.qnsqSpark("m")))
        val emb = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), expr(Portable.qvecSpark("embedding"))
            .as("qv"))
          .withColumn("nq", expr(Portable.qnsqSpark("qv")))
        val paired = towers
          .join(emb, col("media_id") === col("vec_id"))
          .filter(col("nm") > 0 && col("nq") > 0)
          .select(col("media_id").as("id"), col("m"), col("nm"),
            col("qv"), col("nq"))
          .cache() // both directions scan it; bounded query set drawn from it
        def leg(direction: String, qs: org.apache.spark.sql.DataFrame,
            corpus: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val w = Window.partitionBy(col("q_id"))
            .orderBy(col("cosine").desc, col("cid"))
          corpus.crossJoin(broadcast(qs)) // bounded query set
            .withColumn("cosine", expr("qcosine(av, bv, an, bn)"))
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") <= 5)
            .groupBy(col("q_id"))
            .agg(max(when(col("cid") === col("q_id") && col("rk") <= 1, 1L)
                .otherwise(0L)).as("h1"),
              max(when(col("cid") === col("q_id"), 1L).otherwise(0L))
                .as("h5"))
            .agg(count(lit(1)).as("nq"), sum(col("h1")).as("s1"),
              sum(col("h5")).as("s5"))
            .select(lit(direction).as("direction"), col("nq"),
              col("s1"), col("s5"))
        }
        val t2i = leg("t2i",
          paired.filter(col("id") < 100)
            .select(col("id").as("q_id"), col("qv").as("av"),
              col("nq").as("an")),
          paired.select(col("id").as("cid"), col("m").as("bv"),
            col("nm").as("bn")))
        val i2t = leg("i2t",
          paired.filter(col("id") < 100)
            .select(col("id").as("q_id"), col("m").as("av"),
              col("nm").as("an")),
          paired.select(col("id").as("cid"), col("qv").as("bv"),
            col("nq").as("bn")))
        t2i.unionByName(i2t)
          .select(col("direction"),
            explode(expr("array(struct(1 AS k, s1 AS h)," +
              " struct(5 AS k, s5 AS h))")).as("x"),
            col("nq"))
          .select(col("direction"), col("x.k").as("k"),
            col("nq").as("n_queries"), col("x.h").as("n_hits"),
            expr("x.h * 1000 div nq").as("recall_milli"))
      })
  )
}
