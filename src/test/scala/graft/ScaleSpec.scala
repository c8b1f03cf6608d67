package graft

import graft.queries.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Candidate-set sublinearity guard: the scale hazard in every near-dup
  * pipeline is its candidate stage — a silent regression to all-pairs
  * still passes correctness (the verify tail filters it down) but melts a
  * cluster. These tests measure the actual candidate-pair count at two
  * corpus sizes (sf0.001 → sf0.1: 500 → 5,000 documents — sf0.01 reuses
  * the 500-doc corpus, so sf0.1 is the real 10x step) and fail if growth
  * approaches quadratic (100x): the asserted ceiling of 35x leaves room
  * for clustering effects (near-dup groups grow with the corpus) while
  * catching any O(n²) blow-up outright.
  */
class ScaleSpec extends SparkSpec {

  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.1"

  private def growthOk(name: String, countAt: String => Long): Unit = {
    val cSmall = countAt(small).max(1L)
    val cLarge = countAt(large)
    val growth = cLarge.toDouble / cSmall
    info(f"$name: $cSmall candidates @sf0.001 -> $cLarge @sf0.1 " +
      f"(${growth}%.1fx)")
    assert(growth <= 35.0,
      s"$name candidate growth ${growth}x over a ~10x corpus is " +
        "super-linear — check the banding/blocking keys")
  }

  test("q41 minhash: band-bucket candidates grow sublinearly") {
    growthOk("minhash", d =>
      Dedup.minhashCandidates(
        Dedup.shingled(spark, d).select(col("doc_id"), col("shingles")))
        .count())
  }

  test("q42 simhash: candidates bounded by cap·bands·corpus/2") {
    // Same transient-ramp caveat as the ngram test below: between the two
    // fixture sizes, bucket occupancy ramps toward the cap, so the raw
    // growth ratio overshoots linear while the cap-derived bound —
    // Σ_b n_b(n_b-1)/2 <= (cap/2)·Σ_b n_b = (cap/2)·bands·corpus — is
    // what actually holds at any scale. Assert it at both sizes.
    for (d <- Seq(small, large)) {
      val sim = Dedup.simhashSignatures(spark, d).cache()
      val nDocs = sim.count().max(1L)
      val cand = Dedup.simhashCandidates(sim).count()
      val bound = (Dedup.SimhashBucketCap.toLong / 2) * 4 * nDocs
      info(f"simhash @$d: $cand candidates over $nDocs docs " +
        f"(${cand.toDouble / nDocs}%.1f per doc, bound $bound)")
      assert(cand <= bound,
        s"candidates $cand exceed the occupancy-cap bound $bound")
      sim.unpersist()
    }
  }

  test("q352/q378 media fingerprints: candidates bounded by " +
      "cap·bands·assets/2 at both scales (the capped-linear law the " +
      "100x probe measured)") {
    // Media fingerprint spaces are low-entropy, so RAW growth between
    // fixture sizes is super-linear by corpus geometry (SCALE.md) —
    // the invariant that holds at ANY scale is the occupancy-cap
    // bound: Σ_b n_b(n_b-1)/2 <= (cap/2)·bands·assets.
    for (d <- Seq(small, large);
         (nm, fp) <- Seq("image" -> Multimodal.imagePhash(spark, d),
           "audio" -> Multimodal.audioFingerprint(spark, d))) {
      val f = fp.cache()
      val n = f.count().max(1L)
      val cand = Multimodal.bandedCandidates(f).count()
      val bound = (Multimodal.PhashBucketCap.toLong / 2) * 4 * n
      info(f"$nm @$d: $cand candidates over $n assets " +
        f"(${cand.toDouble / n}%.1f per asset, bound $bound)")
      assert(cand <= bound,
        s"$nm candidates $cand exceed the occupancy-cap bound $bound")
      f.unpersist()
    }
  }

  test("q387 winnowing pairs: pre-agg pair rows bounded by " +
      "(dfCap/2)·selected prints at both scales") {
    for (d <- Seq(small, large)) {
      val sp = Dedup.winnowedPrints(spark, d)
        .select(col("doc_id"), col("h")).distinct().cache()
      val nPrints = sp.count().max(1L)
      val pairRows = sp.groupBy(col("h")).agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, Dedup.SpanDfCap))
        .agg(sum(expr("n * (n - 1) div 2"))).first()
      val rows = if (pairRows.isNullAt(0)) 0L else pairRows.getLong(0)
      val bound = (Dedup.SpanDfCap.toLong / 2) * nPrints
      info(s"winnowing pairs @$d: $rows pair rows over $nPrints prints " +
        s"(bound $bound)")
      assert(rows <= bound,
        s"pair rows $rows exceed the df-cap bound $bound")
      sp.unpersist()
    }
  }

  test("q46/q47 ANN: candidates grow at most linearly in the corpus") {
    // Fixed query set (vec_id < 10) against 200 -> 2,000 vectors: LSH
    // candidates are bounded by bucket occupancy and IVF candidates by
    // probed-cell population, both proportional to corpus size — growth
    // beyond ~linear means a band/cell key regressed to a broad match.
    growthOk("ann-lsh", d => Similarity.lshCandidates(spark, d).count())
    growthOk("ann-ivf", d => Similarity.ivfCandidates(spark, d).count())
  }

  test("q98 semantic dedup: per-vector candidates stay flat when cell " +
      "granularity tracks corpus size") {
    // The SemDeDup scale contract: the quantizer's cell count (2^planes)
    // grows with the corpus so per-cell occupancy — and therefore
    // per-vector candidate cost — stays bounded. 10x the vectors with
    // ~8x the cells (2 -> 5 planes) must keep candidates-per-vector
    // within a small constant of the small-corpus value.
    def measure(d: String, planes: Int): (Long, Long) = {
      val n = spark.read.parquet(s"$d/embeddings.parquet").count().max(1L)
      (Similarity.semCandidates(spark, d, planes).count(), n)
    }
    val (cSmall, nSmall) = measure(small, 2)
    val (cLarge, nLarge) = measure(large, 5)
    val perVecSmall = cSmall.toDouble / nSmall
    val perVecLarge = cLarge.toDouble / nLarge
    info(f"sem-dedup: $cSmall pairs/$nSmall vecs " +
      f"($perVecSmall%.1f per vec) -> $cLarge/$nLarge " +
      f"($perVecLarge%.1f per vec)")
    assert(perVecLarge <= perVecSmall * 3 + 8,
      "per-vector semantic-dedup candidates grew super-linearly despite " +
        "scaled cell granularity — check the sign-code cell key")
  }

  test("q43 ngram: candidates bounded by dfCap²/2 per indexed shingle") {
    // The raw growth ratio is misleading for the inverted index: between
    // 500 and 5,000 docs the per-shingle document frequency ramps toward
    // the cap (pairs-per-shingle grows ~df² until the cap binds), so the
    // transient growth exceeds linear even though the ASYMPTOTIC bound —
    // candidates <= C(dfCap,2) · #indexed-shingles, with #indexed-shingles
    // linear in corpus tokens — is what holds at scale. Assert that bound
    // directly at both corpus sizes.
    for (d <- Seq(small, large)) {
      val sh = Dedup.shingled(spark, d).select(col("doc_id"), col("shingles"))
      val samp = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
        .filter(col("s") % 8 === 0)
      val nRare = samp.groupBy("s").count()
        .filter(col("count") <= 20).count().max(1L)
      val cand = Dedup.ngramCandidates(sh).count()
      val perShingle = cand.toDouble / nRare
      info(f"ngram @$d: $cand candidates / $nRare indexed shingles " +
        f"(${perShingle}%.1f per shingle, bound ${20 * 19 / 2})")
      assert(cand <= nRare * (20L * 19 / 2),
        s"candidates $cand exceed the df-cap bound — the cap is not binding")
    }
  }

  test("q205 adaptive cells: intra-cell pairs grow ~linearly with the " +
      "corpus (the sign-code prefix absorbs the growth)") {
    // embeddings go 500 -> 2,000 vectors over this step (4x). A FIXED
    // cell count would grow pairs ~quadratically (~16x — exactly what
    // the first cut of q205 measured); the adaptive prefix must keep it
    // near-linear. 10x leaves room for occupancy quantization (the
    // prefix length moves in whole bits) while failing any quadratic
    // regression.
    def pairs(d: String): Long =
      queries.Registry.byName("q205_pair_dist_hist").run(spark, d)
        .agg(sum(col("n_pairs"))).head.getLong(0)
    val pSmall = pairs(small).max(1L)
    spark.catalog.clearCache()
    val pLarge = pairs(large)
    spark.catalog.clearCache()
    val growth = pLarge.toDouble / pSmall
    info(f"adaptive-cell pairs: $pSmall @sf0.001 -> $pLarge @sf0.1 " +
      f"(${growth}%.1fx for a 4x corpus)")
    assert(growth <= 10.0,
      s"intra-cell pair growth ${growth}x over a 4x corpus is " +
        "super-linear — the adaptive prefix is not absorbing occupancy")
  }

  test("trieLeaf deepens past the old 16-plane ceiling: leaf depth " +
      "tracks log2(corpus/cap) at maxDepth = 48 (the round-13 widened " +
      "signature)") {
    import spark.implicits._
    // Through round 12 the signature was 16 planes wide, so the
    // occupancy-capped trie (q380 / SemDedupStream state keys) had a
    // hard 2^16-cell ceiling (~2M vectors at cap 32). cap = 1 makes the
    // SAME ceiling reachable with a test-sized corpus: median leaf
    // depth ~ log2(n/cap) + 0.5, so 64k random vectors need depth ~17
    // — representable only with the widened signature.
    val rnd = new scala.util.Random(11)
    val nLarge = 65536
    val vecs = (0L until nLarge.toLong).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    def leavesOf(n: Int): Array[(Int, Long)] = {
      val df = spark.createDataset(vecs.take(n))
        .toDF("vec_id", "embedding")
      Similarity.trieLeaf(
          Similarity.quantSig(df).select(col("vec_id"), col("sig")),
          cap = 1, maxDepth = 48)
        .select(col("depth"), col("cell")).collect()
        .map(r => (r.getInt(0), r.getLong(1)))
    }
    val smallL = leavesOf(nLarge / 4)
    val largeL = leavesOf(nLarge)
    def median(xs: Array[Int]): Int = xs.sorted.apply(xs.length / 2)
    val medS = median(smallL.map(_._1))
    val medL = median(largeL.map(_._1))
    info(s"median leaf depth: $medS @16k -> $medL @64k " +
      s"(keys ${smallL.distinct.length} -> ${largeL.distinct.length})")
    // (a) the old ceiling is genuinely crossed: a large share of leaves
    // sit past depth 16 (the exponential-occupancy model puts ~63% of
    // 64k vectors at depth >= 17 with cap 1; assert a conservative 40%)
    val past16 = largeL.count(_._1 >= 17)
    assert(past16 >= (0.4 * nLarge).toInt,
      s"only $past16 of $nLarge leaves past depth 16 — the widened " +
        "signature is not deepening")
    // (b) depth tracks log2(corpus/cap): a 4x corpus must shift the
    // median by ~2 levels
    assert(medL - medS >= 1 && medL - medS <= 3,
      s"median depth must shift ~log2(4) = 2 levels: $medS -> $medL")
    // (c) key cardinality tracks corpus/cap (cap = 1: ~one key per
    // vector, modulo rare full-depth collisions)
    assert(largeL.distinct.length >= nLarge / 2,
      s"key cardinality ${largeL.distinct.length} must track n/cap")
    val ratio = largeL.distinct.length.toDouble / smallL.distinct.length
    assert(ratio >= 3.0 && ratio <= 5.0,
      s"key cardinality must scale with the corpus (got ${ratio}x for 4x)")
    // (d) the occupancy invariant holds at the new depths: every leaf
    // shallower than maxDepth holds <= cap members
    val overs = largeL.groupBy(identity).collect {
      case ((d, c), v) if d < 48 && v.length > 1 => ((d, c), v.length)
    }
    assert(overs.isEmpty, s"sub-maxDepth leaves over cap=1: $overs")
  }

  test("trieLeafAdaptive (round-13 verdict #1): the deployed grain " +
      "tracks corpus/cap, so over-cap audited-remainder mass stays a " +
      "bounded fraction as the corpus grows — where the pinned-12 grain " +
      "absorbs the growth as remainder") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val nLarge = 65536
    val vecs = (0L until nLarge.toLong).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    // cap = 4 pushes the adaptive rule off the 12 floor at test sizes:
    // bitlength(16k/4) = 13, bitlength(64k/4) = 15
    val cap = 4
    def remainder(n: Int, adaptive: Boolean): (Double, Int) = {
      val df = spark.createDataset(vecs.take(n)).toDF("vec_id", "embedding")
      val sg = Similarity.quantSig(df).select(col("vec_id"), col("sig"))
      val leaves =
        if (adaptive) Similarity.trieLeafAdaptive(sg, cap)
        else Similarity.trieLeaf(sg, cap, maxDepth = 12)
      val occ = leaves.groupBy(col("depth"), col("cell"))
        .agg(count(lit(1)).as("n")).cache()
      val over = occ.filter(col("n") > cap)
        .agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
      val maxDepth = occ.agg(max(col("depth"))).head.getInt(0)
      occ.unpersist()
      spark.catalog.clearCache()
      (over.toDouble / n, maxDepth)
    }
    val (fracAdS, dS) = remainder(nLarge / 4, adaptive = true)
    val (fracAdL, dL) = remainder(nLarge, adaptive = true)
    val (fracPinL, _) = remainder(nLarge, adaptive = false)
    info(f"over-cap mass fraction: adaptive $fracAdS%.3f@16k (depth $dS) " +
      f"-> $fracAdL%.3f@64k (depth $dL); pinned-12 $fracPinL%.3f@64k")
    // (a) the ceiling actually lifts with the corpus, by the planned rule
    assert(dS == Similarity.adaptiveTrieDepth(nLarge / 4, cap),
      s"16k ceiling $dS must equal the q388 planning rule")
    assert(dL == Similarity.adaptiveTrieDepth(nLarge, cap),
      s"64k ceiling $dL must equal the q388 planning rule")
    // (b) BOUNDED: a 4x corpus may not grow the remainder fraction past
    // noise (the rule keeps ceiling-cell occupancy ~cap at any n)
    assert(fracAdL <= fracAdS * 1.5 + 0.05,
      s"adaptive over-cap mass fraction grew $fracAdS -> $fracAdL " +
        "under a 4x corpus — the grain is not absorbing growth")
    // (c) the fix is load-bearing: the pinned grain's remainder at 64k
    // dwarfs the adaptive one's (4096 depth-12 cells for 64k vectors
    // at cap 4 leave ~all mass over cap)
    assert(fracPinL >= 2 * fracAdL && fracPinL > 0.5,
      s"pinned-12 remainder $fracPinL vs adaptive $fracAdL — fixture " +
        "no longer demonstrates the ceiling this guard exists to catch")
  }

  test("q400 adaptive serving grain (round-16): the deployed cell count " +
      "follows the planning rule at both corpus sizes, and the elastic " +
      "rule keeps per-query candidate work quota-bounded as the grid " +
      "deepens — the property the pinned 16-cell q398 grid loses") {
    def stats(d: String): (Long, Double, Double, Long) = {
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      val r = Similarity.ivfElasticAdaptive(spark, d,
          Similarity.IvfQuota, Similarity.IvfServeCeiling)
        .agg(max(col("n_cells")).as("cells"),
          avg(col("n_cand")).as("mc"), avg(col("probes_used")).as("mp"))
        .head()
      spark.catalog.clearCache()
      (r.getLong(0), r.getDouble(1), r.getDouble(2), n)
    }
    // sf0.001 sits under 2^4 * 64 vectors (the floor); the lift leg
    // runs on a synthetic 8k corpus written fixture-shaped:
    // bitlength(8192/64) = 8 -> 256 cells
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val synDir = TempDirs.create("t_q400_syn")
    (0L until 8192L).map(i =>
        (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$synDir/embeddings.parquet")
    val (cellsS, candS, probesS, nS) = stats(small)
    val (cellsL, candL, probesL, nL) = stats(synDir)
    info(f"grain: $cellsS cells / $candS%.0f cand / $probesS%.1f probes " +
      f"@ $nS vecs -> $cellsL / $candL%.0f / $probesL%.1f @ $nL")
    def planned(n: Long) = 1L << Similarity.adaptiveTrieDepth(
      n, Similarity.IvfServeOccupancy, Similarity.IvfServeFloorDepth)
    // (a) the deployed grain IS the planning rule, at both sizes
    assert(cellsS == planned(nS), s"n_cells $cellsS != rule ${planned(nS)}")
    assert(cellsL == planned(nL), s"n_cells $cellsL != rule ${planned(nL)}")
    // (b) the 16x step must actually lift the grain off the floor —
    // otherwise this guard is vacuous
    assert(cellsL > cellsS,
      s"8k corpus ($nL vecs) must deepen the grid past the floor ($cellsS)")
    // (c) candidate work stays QUOTA-shaped at both sizes: at least the
    // quota when the corpus affords it, and never more than a few
    // cells' occupancy past it (q398's pinned grid overshoots its
    // first probe ~4.6x at 10x and keeps growing; here occupancy is
    // pinned to (target/2, target] so the overshoot is bounded)
    assert(candL >= Similarity.IvfQuota,
      f"mean candidates $candL%.0f fell under the rerank quota")
    assert(candL <= 4.0 * Similarity.IvfQuota,
      f"mean candidates $candL%.0f overshoot the quota >4x — the " +
        "grain is not tracking the corpus")
    // (d) probing stays bounded and non-degenerate
    assert(probesL >= 1.0 && probesL <= Similarity.IvfServeCeiling)
  }

  test("q401 centroid serving grain (round-16): k follows the sqrt-n " +
      "sizing rule at both corpus sizes, probes stay bounded, and the " +
      "learned cells actually spread the corpus (no Voronoi collapse " +
      "on fixture-shaped data)") {
    def stats(d: String): (Long, Double, Double, Long) = {
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      val r = Similarity.ivfCentroidServe(spark, d,
          Similarity.IvfQuota, Similarity.IvfCentroidCeiling)
        .agg(max(col("n_cells")).as("cells"),
          avg(col("n_cand")).as("mc"), avg(col("probes_used")).as("mp"))
        .head()
      spark.catalog.clearCache()
      (r.getLong(0), r.getDouble(1), r.getDouble(2), n)
    }
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val synDir = TempDirs.create("t_q401_syn")
    (0L until 8192L).map(i =>
        (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$synDir/embeddings.parquet")
    val (cellsS, candS, probesS, nS) = stats(small)
    val (cellsL, candL, probesL, nL) = stats(synDir)
    info(f"grain: $cellsS cells / $candS%.0f cand / $probesS%.1f probes " +
      f"@ $nS vecs -> $cellsL / $candL%.0f / $probesL%.1f @ $nL")
    def planned(n: Long): Long = {
      val bl = 64 - java.lang.Long.numberOfLeadingZeros(n)
      math.max(16L, 1L << ((bl + 1) / 2))
    }
    // (a) the deployed k IS the sqrt-n sizing rule, at both sizes
    assert(cellsS == planned(nS), s"k $cellsS != rule ${planned(nS)}")
    assert(cellsL == planned(nL), s"k $cellsL != rule ${planned(nL)}")
    // (b) the 16x step lifts k off the floor (non-vacuous)
    assert(cellsL > cellsS,
      s"8k corpus ($nL vecs) must deepen k past the fixture's ($cellsS)")
    // (c) no Voronoi collapse on fixture-shaped data: the candidate set
    // a query pays must stay within a few cells' MEAN occupancy of the
    // quota (the 100x isotropic table shows what collapse looks like —
    // one cell holding 17% of the corpus)
    val meanOcc = nL.toDouble / cellsL
    assert(candL <= Similarity.IvfQuota + 4.0 * meanOcc,
      f"mean candidates $candL%.0f vs occupancy $meanOcc%.0f — the " +
        "learned cells collapsed")
    // (d) probing bounded and non-degenerate
    assert(probesL >= 1.0 && probesL <= Similarity.IvfCentroidCeiling)
  }

  test("q386 mmr at K = 20: whole-job shuffle records stay ~|queries|*K, " +
      "far under the corpus-sized exchange a selected-set ROW join " +
      "would pay per stage") {
    // round-12 verdict #7: the MMR unroll was pinned at K = 5; at
    // serving-realistic K the failure mode is a corpus x K shuffle (the
    // round-12 shape group-maxed a corpus-sized (q_id, vec_id) frame
    // every stage). The round-13 shape broadcasts the <= K-element
    // selected ARRAY and computes max-sim row-locally, so only argmax
    // partials and the <= nq*K selected rows ever shuffle.
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          written.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    val k = 20
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Similarity.mmrSelect(spark, large, k)
      val rows = out.collect()
      // give the async listener bus time to drain task-end events
      Thread.sleep(3000)
      val nq = rows.map(_.getLong(0)).distinct.length
      assert(rows.length == nq * k, s"expected nq*K rows, got ${rows.length}")
      assert(rows.map(_.getInt(1)).max == k, "mmr_rank must reach K")
      // per query, K DISTINCT picks (the greedy never re-selects)
      rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        assert(rs.map(_.getLong(2)).distinct.length == k,
          s"query $q must have K distinct picks")
      }
      val corpusRows = spark.read
        .parquet(s"$large/embeddings.parquet").count()
      val w = written.get()
      info(s"shuffle records written at K=$k: $w " +
        s"(corpus $corpusRows, corpus*K ${corpusRows * k})")
      assert(w > 0, "listener must observe the job")
      assert(w < corpusRows * k / 2,
        s"shuffle records $w approach the corpus x K exchange " +
          s"(${corpusRows * k}) — the selected set is being joined as " +
          "rows again")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }
}
