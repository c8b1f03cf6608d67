package graft.tools

import graft.GraftSession
import graft.queries.{Dedup, Multimodal, Registry, Selection, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scale probe for the candidate-bounded operators (round-3
  * verdict, Next #6): upsample the sf0.1 corpus ~10x and measure, for
  * q41/q42/q43/q46/q47, the candidate-pair count and wall time at both
  * sizes — a third, larger point for ScaleSpec's growth guards. Results
  * are recorded in SCALE.md.
  *
  * Upsampling builds the corpus a 10x-bigger DATASET would be, not 10
  * copies of the same one:
  *  - documents: replica k prefixes every token with `rk_`, so replicas
  *    share no vocabulary with the base (disjoint shingles/hashes). Naive
  *    duplication would instead create near-dup families of size k whose
  *    pair count grows quadratically in k BY CONSTRUCTION — that would
  *    measure the data, not the engine.
  *  - embeddings: replica k rotates the 64-dim vector by k positions —
  *    norm-preserving, intra-replica geometry identical, cross-replica
  *    neighborhoods scrambled. vec_ids offset by k*1e7, so the fixed
  *    query set (vec_id < 10) stays the BASE queries against a 10x
  *    corpus — the ANN scaling question asked at 100 TB.
  *
  * Round-7 extension (round-6 verdict, Next #3/#5): the upsample now also
  * builds the RELATIONAL tables (customer/supplier/part/orders/lineitem/
  * events) with per-replica key offsets that preserve every foreign-key
  * relationship inside a replica while keeping replicas disjoint — the
  * 10x corpus a 10x-bigger TPC-H-ish dataset would be (dims region/nation
  * stay fixed, as TPC-H scaling does). That makes the out dir a drop-in
  * SPARK_GRAFT_SF_DIR for the FULL bench suite, and powers a second probe
  * table over the iterative/quantile family (q48/q102/q115/q128/q143)
  * whose growth story was previously argued, not measured.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseDir] [replicas] [outDir] [mode]
  *   mode: all (default) | candidates | iterative | tables
  */
object ScaleProbe {

  // Per-replica key stride: clears every base key space at sf0.1 (max base
  // key is l_orderkey ~6e5) while replica 9's keys stay < 1e9 — far inside
  // int64 and clear of the doc/embedding stride (k*1e7).
  private val KeyStride = 100000000L

  // int64 key columns to offset per replica; FK pairs (orders.o_custkey →
  // customer.c_custkey, lineitem.l_partkey → part.p_partkey, ...) share the
  // same stride so every join stays intact WITHIN a replica and never
  // matches ACROSS replicas.
  private val relationalKeys: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"))

  private def upsampleRelational(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    relationalKeys.foreach { case (tbl, keys) =>
      val df = spark.read.parquet(s"$base/$tbl.parquet")
      (0 until reps).map { k =>
        if (k == 0) df
        else keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * KeyStride)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$tbl.parquet")
    }
    // Dims stay fixed under scale (TPC-H semantics): nation/region are
    // enums of the world, not data that grows with it.
    Seq("region", "nation").foreach { tbl =>
      spark.read.parquet(s"$base/$tbl.parquet")
        .write.mode("overwrite").parquet(s"$out/$tbl.parquet")
    }
  }

  private def upsample(spark: SparkSession, base: String, reps: Int,
      out: String): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    // v3: rotate the letter alphabet by k BEFORE prefixing (media-byte
    // decorrelation — replica assets must not share the base's
    // byte-bucket sign pattern, or every 15-bit fingerprint bucket
    // inherits `reps` correlated copies and the media probes measure
    // the replica transform, not the engine; the embeddings-rotation
    // trick, media edition). The r{k}_ prefix still guarantees
    // replica-disjoint vocabulary for the shingle families.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    (0 until reps).map { k =>
      if (k == 0) docs
      else {
        val rot = alpha.drop(k % 26) + alpha.take(k % 26)
        // n_chars must be the TRANSFORMED text's length (v4): the fixture
        // invariant n_chars == length(text) is load-bearing for the media
        // probes (grid dimensions derive from it), and the replica text is
        // longer than the base's by the r{k}_ prefixes
        val nt = regexp_replace(translate(col("text"), alpha, rot),
          "(\\S+)", s"r${k}_$$1")
        docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          nt.as("text"),
          col("lang"), col("source"),
          length(nt).cast("bigint").as("n_chars"))
      }
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until reps).map { k =>
      if (k == 0) emb
      else {
        // rotate by k mod 64; past one full cycle (k >= 64, the 100x
        // probe) additionally NEGATE the vector — norm-preserving and
        // intra-replica geometry identical, but every hyperplane sign
        // flips, so negated replicas land in complement-signature
        // buckets instead of duplicating a rotated replica's buckets
        val rot = k % 64
        val rotated =
          if (rot == 0) "embedding"
          else s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), " +
            s"slice(embedding, 1, $rot))"
        val trans =
          if ((k / 64) % 2 == 0) rotated
          else s"transform($rotated, x -> -x)"
        emb.select(
          (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          expr(trans).as("embedding"),
          col("label"))
      }
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Upsample-dir provenance marker: bump TransformVersion whenever the
    * replica transform changes (v2 = negate-past-64 embeddings; v3 =
    * per-replica letter rotation for media-byte decorrelation; v4 =
    * replica n_chars computed from the TRANSFORMED text, restoring the
    * n_chars == length(text) fixture invariant the media mirrors derive
    * grid dimensions from), so a dir built by an older transform is
    * never silently reused.
    */
  private val TransformVersion = 4
  private val MarkerName = "_GRAFT_UPSAMPLE.json"
  private def markerText(reps: Int): String =
    s"""{"reps":$reps,"transform_version":$TransformVersion}"""

  private def time(body: => Long): (Long, Double) = {
    // median of 3 (same rationale as Bench)
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = body
      (n, (System.nanoTime() - t0) / 1e9)
    }
    (runs.head._1, runs.map(_._2).sorted.apply(1))
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "/tmp/graft-scale/up10"
    val mode = if (args.length > 3) args(3) else "all"
    val spark = GraftSession.local()
    // The 100x upsample takes minutes to write; reuse an existing out dir
    // ONLY when (a) a marker file proves the same (reps, transform
    // version) built it — a dir from an older transform (pre-negate-
    // past-64) or a crashed run would otherwise skew every growth ratio
    // — and (b) BOTH table row counts confirm it (a run that crashed
    // between the documents and embeddings writes leaves counts
    // inconsistent; the marker is written last, so a crash also leaves
    // no marker).
    val marker = new java.io.File(s"$out/$MarkerName")
    val reusable = marker.exists() && {
      val txt = new String(java.nio.file.Files.readAllBytes(
        marker.toPath), "UTF-8")
      txt == markerText(reps)
    } && {
      val nDoc = spark.read.parquet(s"$out/documents.parquet").count()
      val nEmb = spark.read.parquet(s"$out/embeddings.parquet").count()
      nDoc == reps * spark.read.parquet(s"$base/documents.parquet").count() &&
        nEmb == reps * spark.read.parquet(s"$base/embeddings.parquet").count()
    }
    if (!reusable) {
      marker.delete()
      upsample(spark, base, reps, out)
      java.nio.file.Files.write(marker.toPath,
        markerText(reps).getBytes("UTF-8"))
    }
    if (mode == "candidates100") {
      // round-9 verdict: one more decade for the candidate families only
      // — the linearity claim measured where the 100 TB argument lives
      runCandidate100(spark, base, reps, out)
      spark.stop(); return
    }
    if (mode == "servetune") {
      // round-16: the q400 operating-point sweep — occupancy target x
      // probe ceiling at base and Nx, quota fixed at the rerank budget.
      // The planning table behind the deployed IvfServeOccupancy /
      // IvfServeCeiling constants (SCALE.md).
      println()
      println(s"| occupancy | ceiling | corpus | n_cells | mean_probes " +
        "| n_cand | recall_ppm |")
      println("|---|---|---|---|---|---|---|")
      for (occ <- Seq(64, 128, 256); ceil <- Seq(8, 16, 32);
           (dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
        val r = Similarity
          .ivfElasticAdaptive(spark, dir, Similarity.IvfQuota, ceil, occ)
          .agg(max(col("n_cells")).as("cells"),
            sum(col("probes_used")).as("pu"),
            sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
            count(lit(1)).as("nq")).head()
        println(f"| $occ | $ceil | $label | ${r.getLong(0)} " +
          f"| ${r.getLong(1).toDouble / r.getLong(4)}%.1f " +
          s"| ${r.getLong(2)} | " +
          s"${r.getLong(3) * 1000000 / (r.getLong(4) * Similarity.K)} |")
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    if (mode == "serveiso") {
      runServingRecall(spark, base, reps, out)
      spark.stop(); return
    }
    if (mode == "servecluster") {
      // round-16: the serving-recall demonstration the isotropic
      // upsample CANNOT show. The fixture's replica transform scrambles
      // cross-replica neighborhoods by design (see "Upsampling method"),
      // so at 10x the exact top-5 are maxima of pure noise — LSH theory
      // (query cost ~ n^rho at fixed recall) says NO sublinear index
      // holds recall there at constant work. Real embedding corpora are
      // CLUSTERED; this mode builds deterministic clustered corpora
      // (n/20 clusters of 20 members, queries = members of the first
      // 10 clusters) at base n and Nx and measures the pinned 16-cell
      // grid (q398's rule) against the adaptive multi-probe grain
      // (q400) — the claim: both hold recall, but the pinned grid's
      // n_cand grows ~linearly with the corpus while the adaptive
      // grain holds BOTH axes ~flat.
      def clustered(n: Int, dir: String): Unit = {
        val rnd = new scala.util.Random(41)
        val nClusters = n / 20
        val centers = Array.fill(nClusters, 64)(rnd.nextFloat() * 2 - 1)
        // round-robin membership: vec_id < 10 lands in clusters 0..9,
        // so the fixed query set spans 10 distinct clusters and each
        // query's exact top-5 are its 19 cluster siblings
        val rows = (0 until n).map { id =>
          val c = centers(id % nClusters)
          (id.toLong,
            c.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.15f))
        }
        import spark.implicits._
        rows.toDF("vec_id", "embedding")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val nBase = 2000
      println()
      println("| index | corpus | n_cells | mean_probes | n_cand " +
        "| recall_ppm |")
      println("|---|---|---|---|---|---|")
      for (mult <- Seq(1, reps)) {
        val dir = graft.TempDirs.create(s"serveclu_$mult")
        clustered(nBase * mult, dir)
        val r98 = Similarity.ivfElastic(spark, dir, Similarity.IvfQuota,
            Similarity.IvfElasticCeiling)
          .agg(sum(col("probes_used")), sum(col("n_cand")),
            sum(col("n_hit")), count(lit(1))).head()
        println(f"| q398 pinned | ${mult}x | 16 " +
          f"| ${r98.getLong(0).toDouble / r98.getLong(3)}%.1f " +
          s"| ${r98.getLong(1)} | " +
          s"${r98.getLong(2) * 1000000 / (r98.getLong(3) * Similarity.K)} |")
        spark.catalog.clearCache()
        val r = Similarity.ivfElasticAdaptive(spark, dir,
            Similarity.IvfQuota, Similarity.IvfServeCeiling)
          .agg(max(col("n_cells")), sum(col("probes_used")),
            sum(col("n_cand")), sum(col("n_hit")), count(lit(1))).head()
        println(f"| q400 adaptive | ${mult}x | ${r.getLong(0)} " +
          f"| ${r.getLong(1).toDouble / r.getLong(4)}%.1f " +
          s"| ${r.getLong(2)} | " +
          s"${r.getLong(3) * 1000000 / (r.getLong(4) * Similarity.K)} |")
        spark.catalog.clearCache()
        val r401 = Similarity.ivfCentroidServe(spark, dir,
            Similarity.IvfQuota, Similarity.IvfCentroidCeiling)
          .agg(max(col("n_cells")), sum(col("probes_used")),
            sum(col("n_cand")), sum(col("n_hit")), count(lit(1))).head()
        println(f"| q401 centroid | ${mult}x | ${r401.getLong(0)} " +
          f"| ${r401.getLong(1).toDouble / r401.getLong(4)}%.1f " +
          s"| ${r401.getLong(2)} | " +
          s"${r401.getLong(3) * 1000000 /
            (r401.getLong(4) * Similarity.K)} |")
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    if (mode == "q397") {
      // round-16 (round-15 verdict #5): attribute q397's 10x growth
      // (8.9 s at 10x vs 5.7 s at sf0.1) per stage
      runQ397Profile(spark, base, reps, out)
      spark.stop(); return
    }
    if (mode == "iterative100") {
      // round-10: the iterative members at the same third decade —
      // round-count invariance (components' star rounds, pagerank's
      // pinned 3 iterations, the quantile cut passes) measured where
      // the 10x table only extrapolated
      runIterative100(spark, base, reps, out)
      spark.stop(); return
    }
    if (mode != "candidates") upsampleRelational(spark, base, reps, out)
    if (mode == "tables") { spark.stop(); return }

    if (mode != "iterative") runCandidateProbes(spark, base, reps, out)
    if (mode != "candidates") runIterativeProbes(spark, base, reps, out)
    spark.stop()
  }

  /** q397 stage attribution at base and the Nx corpus (round-16,
    * round-15 verdict #5): the only new-family query whose 10x wall
    * materially exceeded base (8.9 vs 5.7 s). Each row times ONE of
    * the query's composed relations in isolation — the trie-leaf pair
    * candidates (pre-verify), the cosine-verified semantic pairs, the
    * MinHash-verified full component labels (the split-side input),
    * and the whole query — so the superlinear leg is named by
    * measurement, not attribution-by-vibes. Stages share accessors
    * with the query body (semLeafPairs / trieLeafPairCandidates /
    * fullComponents), so the probe measures THE query's stages.
    */
  private def runQ397Profile(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    val stages: Seq[(String, String => Long)] = Seq(
      "s1_trie_pair_cand" -> (d =>
        Similarity.trieLeafPairCandidates(spark, d).count()),
      "s1v_sem_verified" -> (d =>
        Similarity.semLeafPairs(spark, d).count()),
      "s2_full_components" -> (d =>
        Dedup.fullComponents(spark, d,
          Dedup.shingled(spark, d)
            .select(col("doc_id"), col("shingles"))).count()),
      "s3_whole_q397" -> (d =>
        Registry.byName("q397_semantic_split_leak").run(spark, d).count()))
    println()
    println(s"| q397 stage | rows@base | rows@${reps}x | wall@base s " +
      s"| wall@${reps}x s | wall ratio |")
    println("|---|---|---|---|---|---|")
    stages.foreach { case (name, f) =>
      val (rB, wB) = time(f(base))
      spark.catalog.clearCache()
      val (rU, wU) = time(f(out))
      spark.catalog.clearCache()
      println(f"| $name | $rB | $rU | $wB%.2f | $wU%.2f " +
        f"| ${wU / wB}%.2f |")
    }
  }

  /** Candidate-count growth at an arbitrary (large) replica factor —
    * counts only, one run each (the counts are deterministic; the 10x
    * mode owns wall-time drift). `growth vs linear` = cand@Nx / (N *
    * cand@base); the acceptance bar is ≤ 1.3.
    */
  private def runCandidate100(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    val probes: Seq[(String, String => Long)] = Seq(
      "q41_minhash_lsh" -> (d =>
        Dedup.minhashCandidates(
          Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
          .count()),
      "q42_simhash" -> (d =>
        Dedup.simhashCandidates(Dedup.simhashSignatures(spark, d)).count()),
      // the wide-band knob (3 x 20 bits): same signature, 32x more
      // buckets — measured: the CONSTANT drops ~3.2x (31.9k vs 102.3k
      // at base) while relative densification matches q42's (signature
      // clustering is a corpus property; the occupancy cap remains the
      // linearity mechanism at any width)
      "q317_simhash_wide" -> (d =>
        Dedup.simhashBandCandidates(Dedup.simhashSignatures(spark, d),
          nBands = 3, width = 20).count()),
      "q43_ngram_jaccard" -> (d =>
        Dedup.ngramCandidates(
          Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
          .count()),
      "q46_ann_lsh" -> (d => Similarity.lshCandidates(spark, d).count()),
      "q47_ann_ivf" -> (d => Similarity.ivfCandidates(spark, d).count()),
      // round-12 additions (round-11 verdict #3): the media perceptual
      // banding pair and the lossless prefix filter — the one generator
      // whose fan-out is df-dependent, previously argued not measured
      "q352_media_phash" -> (d =>
        Multimodal.bandedCandidates(Multimodal.imagePhash(spark, d))
          .count()),
      "q378_audio_fp" -> (d =>
        Multimodal.bandedCandidates(Multimodal.audioFingerprint(spark, d))
          .count()),
      "q373_prefix_filter" -> (d =>
        Dedup.prefixCandidates(
          Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
          .count()),
      "q391_trie_pairs" -> (d =>
        Similarity.trieLeafPairCandidates(spark, d).count()),
      // round-13 additions (round-12 verdict #4): the COMPOSED stages —
      // q382's ladder feeds each candidate generator only the previous
      // stage's survivors, so survivor skew could bend a bounded stage
      // superlinear; these rows measure the stage-3 (minhash over s2)
      // and stage-4 (cells over s3) candidate mass, plus q387's
      // df-capped winnowing print pairs
      "q382_ladder_s3_cand" -> (d =>
        Dedup.minhashCandidates(Dedup.ladderSh3(spark, d)).count()),
      "q382_ladder_s4_cand" -> (d => {
        val sh3 = Dedup.ladderSh3(spark, d)
        Dedup.ladderPairs4(Dedup.ladderCells4(spark, d,
          Dedup.ladderS3(spark, d, sh3))).count()
      }),
      "q387_winnowing_pairs" -> (d =>
        Dedup.winnowingPairCandidates(Dedup.winnowedDocPrints(spark, d))
          .count()),
      // round 15: q396's (shard, block) cell count — the grain steps by
      // powers of two (blkbits = bitlength(n / (8192*S))), so the 10x
      // row plateaus at 16 cells (50k docs < the 131k first-doubling
      // threshold); the third decade is where the decomposition
      // actually engages and the rows-per-cell bound (<= 2*BlockRows)
      // must hold by cells growing, not rows
      "q396_order_cells" -> (d =>
        Selection.orderAuditFrame(spark, d)
          .groupBy(col("shard"), col("g")).count().count()))
    println(s"| query | cand@base | cand@${reps}x | growth | vs linear |")
    println("|---|---|---|---|---|")
    probes.foreach { case (name, cand) =>
      val t0 = System.nanoTime(); val cB = cand(base)
      spark.catalog.clearCache()
      val t1 = System.nanoTime(); val cU = cand(out)
      spark.catalog.clearCache()
      val t2 = System.nanoTime()
      val g = cU.toDouble / math.max(1, cB)
      println(f"| $name | $cB | $cU | $g%.1fx | ${g / reps}%.2f | " +
        f"(walls ${(t1 - t0) / 1e9}%.1f / ${(t2 - t1) / 1e9}%.1f s)")
    }
    // q42's growth law is CAPPED-linear, not flat-constant: candidates
    // are bounded by Σ_b n_b² ≤ cap · Σ_b n_b (cap = 64), so per-doc
    // candidates may RISE toward the cap ceiling as fixed 15-bit buckets
    // fill, then plateau. Print the occupancy evidence: the share of
    // band entries in capped-out buckets and the per-doc candidate rate
    // vs the ceiling, at both scales.
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
      val sig = Dedup.simhashSignatures(spark, dir)
      val bl = sig.select(posexplode(Dedup.bandSplit("sig", 4, 15)))
        .toDF("band_j", "band")
      val occ = bl.groupBy(col("band_j"), col("band")).count()
      val tot = occ.agg(sum(col("count")).as("entries"),
        sum(when(col("count") > 64, col("count"))).as("hot"),
        max(col("count")).as("maxocc")).head()
      println(s"| q42 occupancy@$label | entries=${tot.getLong(0)} " +
        s"hot-excluded=${Option(tot.get(1)).getOrElse(0L)} " +
        s"max-bucket=${tot.getLong(2)} |")
      spark.catalog.clearCache()
    }
    // same occupancy evidence for the media fingerprint bands (the cap
    // is the linearity mechanism there too — candidates ≤ cap · entries)
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x");
         (fam, fp) <- Seq(
           "q352" -> Multimodal.imagePhash(spark, dir),
           "q378" -> Multimodal.audioFingerprint(spark, dir))) {
      val bl = fp.select(posexplode(Dedup.bandSplit("fp", 4, 15)))
        .toDF("band_j", "band")
      val occ = bl.groupBy(col("band_j"), col("band")).count()
      val tot = occ.agg(sum(col("count")).as("entries"),
        sum(when(col("count") > 64, col("count"))).as("hot"),
        max(col("count")).as("maxocc")).head()
      println(s"| $fam occupancy@$label | entries=${tot.getLong(0)} " +
        s"hot-excluded=${Option(tot.get(1)).getOrElse(0L)} " +
        s"max-bucket=${tot.getLong(2)} |")
      spark.catalog.clearCache()
    }
    // adaptive-cell family (q44/q98): plane count grows with log(corpus)
    // — 4 planes at base → 4 + ceil(log2(reps)) at the Nx corpus, the
    // same occupancy-targeting rule the 10x probe applies (4 → 7)
    val planesUp = 4 + (64 - java.lang.Long
      .numberOfLeadingZeros(math.max(1, reps - 1).toLong)).toInt
    val cB98 = Similarity.semCandidates(spark, base, 4).count()
    spark.catalog.clearCache()
    val cU98 = Similarity.semCandidates(spark, out, planesUp).count()
    spark.catalog.clearCache()
    val nB = spark.read.parquet(s"$base/embeddings.parquet").count()
    val nU = spark.read.parquet(s"$out/embeddings.parquet").count()
    val g98 = cU98.toDouble / math.max(1, cB98)
    println(f"| q98_semantic_dedup (4→$planesUp planes) | $cB98 | $cU98 " +
      f"| $g98%.1fx | ${g98 / reps}%.2f | " +
      f"per-vec ${cB98.toDouble / nB}%.1f → ${cU98.toDouble / nU}%.1f |")

    runServingRecall(spark, base, reps, out)
  }

  /** The isotropic serving-recall table: pinned 16-cell grid (q398) vs
    * adaptive multi-probe grain (q400) at base and Nx — the honest
    * NEGATIVE half of the round-16 serving story (constant-work recall
    * decays on neighborhood-scrambled isotropic data for ANY sublinear
    * index; the clustered mode shows the positive half). Shared by
    * runCandidate100 and the `serveiso` mode.
    */
  private def runServingRecall(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    println()
    println("| serving IVF recall | n_cells | mean_probes | n_cand " +
      "| recall_ppm |")
    println("|---|---|---|---|---|")
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
      val r98 = Similarity
        .ivfElastic(spark, dir, Similarity.IvfQuota,
          Similarity.IvfElasticCeiling)
        .agg(sum(col("probes_used")).as("pu"),
          sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq")).head()
      println(f"| q398@$label | 16 " +
        f"| ${r98.getLong(0).toDouble / r98.getLong(3)}%.1f " +
        s"| ${r98.getLong(1)} | " +
        s"${r98.getLong(2) * 1000000 / (r98.getLong(3) * Similarity.K)} |")
      spark.catalog.clearCache()
      val r = Similarity
        .ivfElasticAdaptive(spark, dir, Similarity.IvfQuota,
          Similarity.IvfServeCeiling)
        .agg(max(col("n_cells")).as("cells"),
          sum(col("probes_used")).as("pu"),
          sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq")).head()
      println(f"| q400@$label | ${r.getLong(0)} " +
        f"| ${r.getLong(1).toDouble / r.getLong(4)}%.1f " +
        s"| ${r.getLong(2)} | " +
        s"${r.getLong(3) * 1000000 / (r.getLong(4) * Similarity.K)} |")
      spark.catalog.clearCache()
      val r401 = Similarity
        .ivfCentroidServe(spark, dir, Similarity.IvfQuota,
          Similarity.IvfCentroidCeiling)
        .agg(max(col("n_cells")).as("cells"),
          sum(col("probes_used")).as("pu"),
          sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq")).head()
      println(f"| q401@$label | ${r401.getLong(0)} " +
        f"| ${r401.getLong(1).toDouble / r401.getLong(4)}%.1f " +
        s"| ${r401.getLong(2)} | " +
        s"${r401.getLong(3) * 1000000 /
          (r401.getLong(4) * Similarity.K)} |")
      spark.catalog.clearCache()
    }
  }

  private def runCandidateProbes(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    val probes: Seq[(String, String => Long)] = Seq(
      "q41_minhash_lsh" -> (d =>
        Dedup.minhashCandidates(
          Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
          .count()),
      "q42_simhash" -> (d =>
        Dedup.simhashCandidates(Dedup.simhashSignatures(spark, d)).count()),
      "q43_ngram_jaccard" -> (d =>
        Dedup.ngramCandidates(
          Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
          .count()),
      "q46_ann_lsh" -> (d => Similarity.lshCandidates(spark, d).count()),
      "q47_ann_ivf" -> (d => Similarity.ivfCandidates(spark, d).count()),
      "q352_media_phash_dedup" -> (d =>
        Multimodal.bandedCandidates(Multimodal.imagePhash(spark, d))
          .count()),
      "q378_audio_fingerprint_dedup" -> (d =>
        Multimodal.bandedCandidates(Multimodal.audioFingerprint(spark, d))
          .count()),
      "q373_prefix_filter_join" -> (d =>
        Dedup.prefixCandidates(
          Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
          .count()),
      "q387_winnowing_pairs" -> (d =>
        Dedup.winnowingPairCandidates(Dedup.winnowedDocPrints(spark, d))
          .count()),
      // round 14: the adaptive-grain trie's pair mass (q391's in-cell
      // verify set, q397's spairs) — the relation the round-13 verdict's
      // task 1 re-bounded; the 10x row is the empirical check that the
      // in-plan depth derivation keeps it near-linear on the REAL
      // corpus, not just ScaleSpec's synthetic 16k/64k vectors
      "q391_trie_semantic_dedup" -> (d =>
        Similarity.trieLeafPairCandidates(spark, d).count()),
      // round 15: the block-decomposed order audit — the "candidate"
      // mass is the (shard, block) CELL count, which must grow with the
      // corpus (bounded rows per cell) now that the run-length scan is
      // stitched at block grain instead of sorted per constant shard
      "q396_shuffle_order_audit" -> (d =>
        Selection.orderAuditFrame(spark, d)
          .groupBy(col("shard"), col("g")).count().count()))

    println("| query | cand@base | cand@10x | growth | " +
      "wall@base s | wall@10x s | per-row drift |")
    println("|---|---|---|---|---|---|---|")
    probes.foreach { case (name, cand) =>
      val (cB, _) = time(cand(base))
      val (cU, _) = time(cand(out))
      val q = Registry.byName(name)
      val (_, wB) = time(q.run(spark, base).count())
      val (_, wU) = time(q.run(spark, out).count())
      // per-row cost drift: wall time per corpus row, 10x vs base (1.0 =
      // perfectly linear; <2.0 is the acceptance bar)
      val drift = (wU / reps) / wB
      println(f"| $name | $cB | $cU | ${cU.toDouble / math.max(1, cB)}%.1fx " +
        f"| $wB%.2f | $wU%.2f | $drift%.2f |")
      // Drop cached plan fragments between corpora so the 10x run cannot
      // reuse the base corpus' cached quantized/shingle tables.
      spark.catalog.clearCache()
    }

    // q98 semantic dedup: unlike the band/cap families above, its
    // candidate bound is the CELL GRANULARITY, which is a deployment knob
    // (cells = 2^planes), not a per-row cap — so the scaling question is
    // "does growing cells with the corpus hold per-vector candidates
    // flat?". 4 planes at base → 7 planes (8x cells) at the 10x corpus.
    val (cB98, wB98) = time(Similarity.semCandidates(spark, base, 4).count())
    spark.catalog.clearCache()
    val (cU98, wU98) = time(Similarity.semCandidates(spark, out, 7).count())
    spark.catalog.clearCache()
    val nB = spark.read.parquet(s"$base/embeddings.parquet").count()
    val nU = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(f"| q98_semantic_dedup (4→7 planes) | $cB98 | $cU98 " +
      f"| ${cU98.toDouble / math.max(1, cB98)}%.1fx | $wB98%.2f | $wU98%.2f " +
      f"| per-vec ${cB98.toDouble / nB}%.1f → ${cU98.toDouble / nU}%.1f |")

    // q382's COMPOSED stages (round-12 verdict #4): the ladder feeds each
    // candidate generator only the previous stage's survivors — measure
    // the stage-3 (minhash over s2) and stage-4 (cells over s3)
    // candidate mass at both sizes, with ONE wall for the whole ladder
    // query (both rows run inside it).
    val ladderCands: Seq[(String, String => Long)] = Seq(
      "q382_ladder_s3_cand" -> (d =>
        Dedup.minhashCandidates(Dedup.ladderSh3(spark, d)).count()),
      "q382_ladder_s4_cand" -> (d => {
        val sh3 = Dedup.ladderSh3(spark, d)
        Dedup.ladderPairs4(Dedup.ladderCells4(spark, d,
          Dedup.ladderS3(spark, d, sh3))).count()
      }))
    val qLadder = Registry.byName("q382_dedup_ladder")
    val (_, lwB) = time(qLadder.run(spark, base).count())
    spark.catalog.clearCache()
    val (_, lwU) = time(qLadder.run(spark, out).count())
    spark.catalog.clearCache()
    // whole-ladder wall gets its OWN row; the per-stage rows below print
    // the walls of THEIR candidate measurement (the table header's
    // wall/vs-linear columns must describe the row they sit on)
    println(f"| q382_dedup_ladder (whole query) | - | - | - " +
      f"| $lwB%.2f | $lwU%.2f | ${(lwU / reps) / lwB}%.2f |")
    ladderCands.foreach { case (name, cand) =>
      val (cB, cwB) = time(cand(base))
      spark.catalog.clearCache()
      val (cU, cwU) = time(cand(out))
      spark.catalog.clearCache()
      println(f"| $name | $cB | $cU | ${cU.toDouble / math.max(1, cB)}%.1fx " +
        f"| $cwB%.2f | $cwU%.2f | ${(cwU / reps) / cwB}%.2f |")
    }

    // round-14 (round-13 verdict #2): trie-ANN recall under corpus
    // growth x probe budget — the q394 sweep re-run on the upsampled
    // corpus, where leaves deepen (the adaptive ceiling lifts once the
    // corpus passes 2^12 * cap). The serving trap this row exists to
    // catch is recall silently decaying as the index grows; the base
    // query set (vec_id < 10) persists at 10x, so the question is the
    // 100 TB one: same queries, 10x corpus.
    println()
    println("| trie-ANN recall | probe_budget | n_cand | recall_ppm |")
    println("|---|---|---|---|")
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
      val rows = Similarity.trieAnnRecall(spark, dir, Seq(1, 2, 4, 8))
        .groupBy(col("probe_budget"))
        .agg(sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq"))
        .orderBy(col("probe_budget")).collect()
      rows.foreach { r =>
        // recall over the exact top-K per query (q392's Similarity.K)
        println(s"| q394@$label | ${r.getInt(0)} | ${r.getLong(1)} | " +
          s"${r.getLong(2) * 1000000 / (r.getLong(3) * Similarity.K)} |")
      }
      spark.catalog.clearCache()
    }

    // q395's quota-elastic rule at both sizes (round 14): the question
    // the fixed-budget sweep can't answer — does normalizing candidate
    // WORK (probe until >= quota candidates) hold the recall/cost point
    // as the corpus grows and leaves deepen? Row: mean probes spent,
    // total candidates, corpus recall ppm.
    println()
    println("| elastic trie-ANN | mean_probes | n_cand | recall_ppm |")
    println("|---|---|---|---|")
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
      val r = Similarity
        .trieAnnElastic(spark, dir, Similarity.AnnQuota,
          Similarity.AnnElasticCeiling)
        .agg(sum(col("probes_used")).as("pu"),
          sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq")).head()
      println(f"| q395@$label | ${r.getLong(0).toDouble / r.getLong(3)}%.1f " +
        s"| ${r.getLong(1)} | " +
        s"${r.getLong(2) * 1000000 / (r.getLong(3) * Similarity.K)} |")
      spark.catalog.clearCache()
    }

    // q398's quota-elastic IVF at both sizes (round 15): the SERVING
    // index under the elastic rule, against q351's fixed-nprobe
    // planning — the check that per-query adaptive nprobe holds recall
    // while mean probes FALL as the corpus (and cell occupancy) grows.
    println()
    println("| elastic IVF | mean_probes | n_cand | recall_ppm |")
    println("|---|---|---|---|")
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
      val r = Similarity
        .ivfElastic(spark, dir, Similarity.IvfQuota,
          Similarity.IvfElasticCeiling)
        .agg(sum(col("probes_used")).as("pu"),
          sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq")).head()
      println(f"| q398@$label | ${r.getLong(0).toDouble / r.getLong(3)}%.1f " +
        s"| ${r.getLong(1)} | " +
        s"${r.getLong(2) * 1000000 / (r.getLong(3) * Similarity.K)} |")
      spark.catalog.clearCache()
    }

    // q400's ADAPTIVE serving grain at both sizes (round 16, the
    // round-15 verdict's done-criterion): the deployed cell count
    // tracks the corpus (2^bitlength(n/256)), so occupancy — and the
    // recall/cost point — holds ~flat where q398's pinned 16-cell row
    // above decays; mean probes must stay bounded, not collapse to a
    // single over-full cell.
    println()
    println("| adaptive IVF | n_cells | mean_probes | n_cand | recall_ppm |")
    println("|---|---|---|---|---|")
    for ((dir, label) <- Seq(base -> "base", out -> s"${reps}x")) {
      val r = Similarity
        .ivfElasticAdaptive(spark, dir, Similarity.IvfQuota,
          Similarity.IvfServeCeiling)
        .agg(max(col("n_cells")).as("cells"),
          sum(col("probes_used")).as("pu"),
          sum(col("n_cand")).as("nc"), sum(col("n_hit")).as("nh"),
          count(lit(1)).as("nq")).head()
      println(f"| q400@$label | ${r.getLong(0)} " +
        f"| ${r.getLong(1).toDouble / r.getLong(4)}%.1f " +
        s"| ${r.getLong(2)} | " +
        s"${r.getLong(3) * 1000000 / (r.getLong(4) * Similarity.K)} |")
      spark.catalog.clearCache()
    }
  }

  /** Iterative family at an arbitrary (large) replica factor — the
    * round-10 companion to [[runCandidate100]]: q48's large/small-star
    * components, q115's 3-round pagerank, and q102's equi-depth cuts run
    * verbatim at base and at the Nx corpus (single run each at Nx — the
    * walls are minutes-scale, and the question is round-count
    * invariance, not microbenchmark noise). Builds ONLY the table this
    * family reads beyond the document upsample (lineitem, per-replica
    * key offsets as [[upsampleRelational]]), reusing a prior build when
    * its row count proves the same reps.
    */
  private def runIterative100(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    val f = s"$out/lineitem.parquet"
    val dfBase = spark.read.parquet(s"$base/lineitem.parquet")
    val nBase = dfBase.count()
    val reusable = new java.io.File(f).exists() &&
      scala.util.Try(spark.read.parquet(f).count() == reps * nBase)
        .getOrElse(false)
    if (!reusable) {
      val keys = relationalKeys.toMap.apply("lineitem")
      (0 until reps).map { k =>
        if (k == 0) dfBase
        else keys.foldLeft(dfBase)((d, c) =>
          d.withColumn(c, col(c) + lit(k * KeyStride)))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(f)
    }
    val iterative = Seq("q48_dedup_components", "q102_equidepth_bins",
      "q115_pagerank")
    println()
    println(s"| query | rows@base | rows@${reps}x | wall@base s " +
      s"| wall@${reps}x s | per-row drift |")
    println("|---|---|---|---|---|---|")
    iterative.foreach { name =>
      val q = Registry.byName(name)
      val (rB, wB) = time(q.run(spark, base).count())
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rU = q.run(spark, out).count()
      val wU = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"| $name | $rB | $rU | $wB%.2f | $wU%.2f " +
        f"| ${(wU / reps) / wB}%.2f |")
    }
  }

  /** The iterative/quantile family, measured by running each REGISTERED
    * query verbatim at base and at the 10x corpus. Per-replica key
    * disjointness means the 10x answer is structurally 10 copies of the
    * base answer (pagerank over 10 disjoint subgraphs, components over 10
    * disjoint near-dup families, quantiles over a 10x multiset with the
    * same cuts). Output rows scale ~10x for the row-granular queries
    * (q48/q128) and stay fixed for the aggregate-output ones (q102's 10
    * bins, q143's segment grid) — either way per-row drift ≤2 is the
    * acceptance bar, certifying the ENGINE scales, not the data's
    * accidents.
    */
  private def runIterativeProbes(spark: SparkSession, base: String,
      reps: Int, out: String): Unit = {
    val iterative = Seq("q48_dedup_components", "q102_equidepth_bins",
      "q115_pagerank", "q128_cluster_rep", "q143_rfm",
      // round-7 join-heavy additions: version-delta full-outer,
      // block-decomposed KS, and the chunk-fingerprint overlap matrix
      "q161_snapshot_diff", "q162_ks_test", "q171_source_overlap",
      // round-8: the co-partitioned distinct self-join degree histogram
      "q166_degree_hist",
      // round-9: greedy k-center — k linear passes, argmax via
      // TakeOrdered; drift certifies the per-round pass stays linear
      "q316_kcenter_select")
    println()
    println("| query | rows@base | rows@10x | wall@base s | wall@10x s " +
      "| per-row drift |")
    println("|---|---|---|---|---|---|")
    iterative.foreach { name =>
      val q = Registry.byName(name)
      val (rB, wB) = time(q.run(spark, base).count())
      spark.catalog.clearCache()
      val (rU, wU) = time(q.run(spark, out).count())
      spark.catalog.clearCache()
      println(f"| $name | $rB | $rU | $wB%.2f | $wU%.2f " +
        f"| ${(wU / reps) / wB}%.2f |")
    }
  }
}
