package graft.tools

import graft.GraftSession
import graft.queries.Multimodal
import graft.streaming.{ComponentStream, DedupStream, MediaDedupStream,
  NearDupStream, SemDedupStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-streaming end-to-end latency probe (round-11 verdict #7):
  * the streaming legs are batch-equivalence-PROVEN but were never
  * MEASURED. Drives MemoryStream micro-batches through all four
  * admission streams (exact / MinHash / semantic / media) and records
  * per-trigger latency and state-store row growth, at two corpus sizes
  * each — the evidence that per-trigger cost tracks the ARRIVING batch
  * (bounded state probes), not the corpus behind the initial state.
  * Results are recorded in SCALE.md.
  *
  * Round-13 extensions:
  *  - per-trigger DURATION BREAKDOWN (addBatch = plan+execute,
  *    stateCommit = sum of state-store commit times) so a latency tail
  *    is attributable (round-12 verdict #5: the media leg's 860-4,600 ms
  *    spread needed a cause);
  *  - a LEG FILTER so one leg can run in a fresh JVM — the legs share
  *    the JVM when run together, so a tail can be cross-leg memory
  *    pressure rather than the operator;
  *  - a `hotsem` leg (round-12 verdict #2's done-criterion): every
  *    arrival shares ONE sign-prefix path — before the round-13
  *    stream-side storage cap, per-trigger cost grew with the
  *    accumulated same-prefix stream mass; with saturation it must stay
  *    flat at O(cap) verify work per arrival.
  *
  * Usage: runMain graft.tools.StreamLatencyProbe [sfDir] [triggers] [legs]
  *   legs: comma list of exact,minhash,semantic,media,hotsem (default all)
  */
object StreamLatencyProbe {

  private def drive(q: StreamingQuery, triggers: Int,
      addBatch: Int => Int, leg: String, corpusRows: Long): Unit = {
    (0 until triggers).foreach { i =>
      val t0 = System.nanoTime()
      val n = addBatch(i)
      q.processAllAvailable()
      val ms = (System.nanoTime() - t0) / 1e6
      val progs = q.recentProgress
      val stateRows = progs
        .flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      // the trigger that processed this batch is the last DATA trigger
      val last = progs.reverseIterator.find(_.numInputRows > 0)
      val exec = last.map(_.durationMs.getOrDefault("triggerExecution", -1L))
        .getOrElse(-1L)
      val add = last.map(_.durationMs.getOrDefault("addBatch", -1L))
        .getOrElse(-1L)
      val commit = last.map(_.stateOperators.map(p =>
          p.commitTimeMs + p.allUpdatesTimeMs + p.allRemovalsTimeMs).sum)
        .getOrElse(-1L)
      println(f"| $leg | $corpusRows | ${i + 1} | $n | $ms%.0f | $exec " +
        f"| $add | $commit | $stateRows |")
    }
    q.stop()
  }

  private def header(): Unit = {
    println("| leg | corpus_rows | trigger | batch_rows | latency_ms " +
      "| exec_ms | addBatch_ms | stateCommit_ms | state_rows |")
    println("|---|---|---|---|---|---|---|---|---|")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val triggers = if (args.length > 1) args(1).toInt else 10
    val legs = (if (args.length > 2) args(2)
      else "exact,minhash,semantic,media,hotsem,comp,rotate,e2e,e2erotate")
      .split(",").toSet
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .cache()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1

    header()

    // doc legs: arrivals are the top 20% of ids, fed over `triggers`
    // batches; corpus sizes 40% and 80% of the id space
    lazy val docArrivals = docs.filter(col("doc_id") >= maxDoc * 4 / 5)
      .as[DedupStream.RawDoc].collect().sortBy(_.doc_id)
    lazy val docBatches = docArrivals.grouped(
      math.max(1, (docArrivals.length + triggers - 1) / triggers)).toSeq
    if (legs("exact") || legs("minhash")) for (frac <- Seq(2, 4)) {
      val corpus = docs.filter(col("doc_id") < maxDoc * frac / 5)
      val nCorpus = corpus.count()

      if (legs("exact")) {
        val ledger = DedupStream.fingerprinted(corpus)
          .select(col("fp")).distinct()
        val memE = MemoryStream[DedupStream.RawDoc]
        val qE = DedupStream.admitted(spark, memE.toDF(), ledger)
          .writeStream.format("memory").queryName(s"lat_exact_$frac")
          .outputMode("append").start()
        drive(qE, docBatches.length,
          i => { memE.addData(docBatches(i).toIndexedSeq: _*)
            docBatches(i).length },
          "exact", nCorpus)
      }

      if (legs("minhash")) {
        val memN = MemoryStream[DedupStream.RawDoc]
        val qN = NearDupStream.matches(spark, memN.toDF(), corpus)
          .writeStream.format("memory").queryName(s"lat_near_$frac")
          .outputMode("append").start()
        drive(qN, docBatches.length,
          i => { memN.addData(docBatches(i).toIndexedSeq: _*)
            docBatches(i).length },
          "minhash", nCorpus)
      }
    }

    // semantic leg over embeddings
    if (legs("semantic")) {
      val vecArrivals = emb.filter(col("vec_id") >= maxVec * 4 / 5)
        .as[SemDedupStream.RawVec].collect().sortBy(_.vec_id)
      val vecBatches = vecArrivals.grouped(
        math.max(1, (vecArrivals.length + triggers - 1) / triggers)).toSeq
      for (frac <- Seq(2, 4)) {
        val corpus = emb.filter(col("vec_id") < maxVec * frac / 5)
        val nCorpus = corpus.count()
        val memS = MemoryStream[SemDedupStream.RawVec]
        val qS = SemDedupStream.matches(spark, memS.toDF(), corpus)
          .writeStream.format("memory").queryName(s"lat_sem_$frac")
          .outputMode("append").start()
        drive(qS, vecBatches.length,
          i => { memS.addData(vecBatches(i).toIndexedSeq: _*)
            vecBatches(i).length },
          "semantic", nCorpus)
      }
    }

    // hot-prefix semantic leg: every arrival is a near-copy of ONE base
    // vector (same quantized grid point, so one shared sign-prefix path
    // and ONE storage cell). 20% of the id space arrives against the
    // 40% corpus; before the stream-side cap, trigger t paid O(t x
    // batch^2 / triggers) same-prefix verifies — now each arrival
    // verifies against <= cap stored exemplars plus its corpus leaf.
    if (legs("hotsem")) {
      val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
      val nArr = (maxVec / 5).toInt
      // the nudge vanishes under the 1000x quantization — every arrival
      // lands on the SAME grid point (one path, one storage cell)
      val hotArrivals = (0 until nArr).map { i =>
        val v = base.clone(); v(0) = v(0) + i.toFloat * 1e-8f
        SemDedupStream.RawVec(maxVec + i, v)
      }
      val hotBatches = hotArrivals.grouped(
        math.max(1, (nArr + triggers - 1) / triggers)).toSeq
      val corpus = emb.filter(col("vec_id") < maxVec * 2 / 5)
      val nCorpus = corpus.count()
      val memH = MemoryStream[SemDedupStream.RawVec]
      val qH = SemDedupStream.matches(spark, memH.toDF(), corpus)
        .writeStream.format("memory").queryName("lat_hotsem")
        .outputMode("append").start()
      drive(qH, hotBatches.length,
        i => { memH.addData(hotBatches(i).toIndexedSeq: _*)
          hotBatches(i).length },
        "hotsem", nCorpus)
    }

    // component-maintenance leg (round-13 verdict #4): the corpus label
    // ledger sits in keyed state; each trigger feeds a FIXED number of
    // random verified edges over the corpus id space. Per-trigger cost
    // must track that fixed batch (label lookups on arriving endpoint
    // keys + star rounds on the contracted batch-sized label graph),
    // not the ledger size — the corpus axis (frac 2 vs 4) is the test.
    if (legs("comp")) {
      val nEdges = 400
      for (frac <- Seq(2, 4)) {
        val lim = maxDoc * frac / 5
        val ledger = docs.filter(col("doc_id") < lim)
          .select(col("doc_id"), col("doc_id").as("label"))
        val nCorpus = ledger.count()
        val rnd = new scala.util.Random(17)
        val edgeBatches = (0 until triggers).map(_ =>
          (0 until nEdges).map { _ =>
            ComponentStream.Edge(math.abs(rnd.nextLong()) % lim,
              math.abs(rnd.nextLong()) % lim)
          })
        val memC = MemoryStream[ComponentStream.Edge]
        // stateDir on: the leg times the production path including the
        // per-merging-batch durable remap snapshot (epoch-bounded write)
        val (w, _) = ComponentStream.maintain(spark, memC.toDF(), ledger,
          stateDir = Some(graft.TempDirs.create(s"lat_comp_state_$frac")))
        val qC = w.queryName(s"lat_comp_$frac").start()
        drive(qC, triggers,
          i => { memC.addData(edgeBatches(i).toIndexedSeq: _*)
            edgeBatches(i).length },
          "comp", nCorpus)
      }
    }

    // composed end-to-end leg (round-14 verdict #6): arrivals ->
    // NearDupStream (bands + in-state verify) -> durable parquet edge
    // handoff -> ComponentStream maintenance — the whole streaming
    // dedup DAG as ONE pipeline, per-trigger wall measured across both
    // queries (admission evidence lands, then the label graph absorbs
    // it). The claim: composed per-trigger cost tracks the batch, same
    // as each leg alone — the handoff adds a bounded file-source delta.
    if (legs("e2e")) {
      val ledger = docs.filter(col("doc_id") < maxDoc * 2 / 5)
        .select(col("doc_id"), col("doc_id").as("label"))
      val corpus = docs.filter(col("doc_id") < maxDoc * 2 / 5)
      val nCorpus = corpus.count()
      val hand = graft.TempDirs.create("lat_e2e_edges")
      val ck1 = graft.TempDirs.create("lat_e2e_ck1")
      val memE2 = MemoryStream[DedupStream.RawDoc]
      val q1 = NearDupStream.matches(spark, memE2.toDF(), corpus)
        .writeStream.format("parquet")
        .option("path", hand).option("checkpointLocation", ck1)
        .outputMode("append").start()
      val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("new_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("matched_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType)))
      val edgeStream = spark.readStream.schema(edgeSchema).parquet(hand)
        .select(col("new_doc").as("doc_a"),
          col("matched_doc").as("doc_b"))
      val (w2, _) = ComponentStream.maintain(spark, edgeStream, ledger)
      val q2 = w2.queryName("lat_e2e_comp").start()
      (0 until docBatches.length).foreach { i =>
        val t0 = System.nanoTime()
        memE2.addData(docBatches(i).toIndexedSeq: _*)
        q1.processAllAvailable()
        q2.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"| e2e | $nCorpus | ${i + 1} | ${docBatches(i).length} " +
          f"| $ms%.0f | - | - | - | - |")
      }
      q1.stop(); q2.stop()
    }

    // composed DAG ACROSS A ROTATION (round-16, round-15 verdict #2's
    // probe row): the e2e leg with the documented epoch protocol run
    // mid-stream — half the arrival waves land in comp epoch 1, the
    // comp query stops, rotate() folds the remap at the
    // materialization grain, a FRESH comp query restarts over the same
    // handoff with the rotated ledger (its first batch REPLAYS the
    // old epoch's evidence — the production restart cost, printed as
    // its own row; the rotated ledger makes it contract to no-ops),
    // then the remaining waves land in epoch 2. The claim: e2 triggers
    // cost ~the same as e1 triggers — rotation neither loses labels
    // (StreamingSpec proves equivalence) nor changes the per-trigger
    // cost shape.
    if (legs("e2erotate")) {
      val ledger = docs.filter(col("doc_id") < maxDoc * 2 / 5)
        .select(col("doc_id"), col("doc_id").as("label"))
      val corpus = docs.filter(col("doc_id") < maxDoc * 2 / 5)
      val nCorpus = corpus.count()
      val hand = graft.TempDirs.create("lat_e2erot_edges")
      val ck1 = graft.TempDirs.create("lat_e2erot_ck1")
      val memE3 = MemoryStream[DedupStream.RawDoc]
      val q1 = NearDupStream.matches(spark, memE3.toDF(), corpus)
        .writeStream.format("parquet")
        .option("path", hand).option("checkpointLocation", ck1)
        .outputMode("append").start()
      val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("new_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("matched_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType)))
      def edgeStream = spark.readStream.schema(edgeSchema).parquet(hand)
        .select(col("new_doc").as("doc_a"),
          col("matched_doc").as("doc_b"))
      def trigger(q1r: org.apache.spark.sql.streaming.StreamingQuery,
          q2r: org.apache.spark.sql.streaming.StreamingQuery,
          i: Int, tag: String): Unit = {
        val t0 = System.nanoTime()
        memE3.addData(docBatches(i).toIndexedSeq: _*)
        q1r.processAllAvailable()
        q2r.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"| $tag | $nCorpus | ${i + 1} " +
          f"| ${docBatches(i).length} | $ms%.0f | - | - | - | - |")
      }
      val (wA, mA) = ComponentStream.maintain(spark, edgeStream, ledger)
      val qA = wA.queryName("lat_e2erot_comp_e1").start()
      val half = math.max(1, docBatches.length / 2)
      (0 until half).foreach(i => trigger(q1, qA, i, "e2erot(e1)"))
      // the rotation boundary: stop / rotate / restart (fresh temp
      // checkpoint — the restart's first batch replays the handoff)
      qA.stop()
      val seen = docArrivals.take(
        (0 until half).map(docBatches(_).length).sum).map(_.doc_id)
      var t0 = System.nanoTime()
      val fs1 = ledger.unionByName(seen.toSeq.toDF("doc_id")
        .select(col("doc_id"), col("doc_id").as("label")))
      val ledgerB = mA.rotate(fs1)
      println(f"| e2erot(rotate) | $nCorpus | - | 0 " +
        f"| ${(System.nanoTime() - t0) / 1e6}%.0f | - | - | - | - |")
      val (wB, mB) = ComponentStream.maintain(spark, edgeStream, ledgerB)
      t0 = System.nanoTime()
      val qB = wB.queryName("lat_e2erot_comp_e2").start()
      qB.processAllAvailable()
      println(f"| e2erot(replay) | $nCorpus | - | 0 " +
        f"| ${(System.nanoTime() - t0) / 1e6}%.0f | - | - " +
        f"| - | ${mB.remapSize} |")
      (half until docBatches.length)
        .foreach(i => trigger(q1, qB, i, "e2erot(e2)"))
      println(f"| e2erot(end) | $nCorpus | - | 0 | 0 | - | - " +
        f"| - | ${mB.remapSize} |")
      q1.stop(); qB.stop()
    }

    // remap-growth / epoch-rotation leg (round-14 verdict #1): every
    // edge here is a GUARANTEED merge (disjoint id pairs), so
    // cumulative merges — and the remap — grow by a full batch per
    // trigger: a tiny first batch then full batches gives ~100x+ remap
    // growth across the run. The claim under test is that per-trigger
    // wall stays pinned to the BATCH while the remap grows (join-side
    // demotion keeps the plan sound past the broadcast cap — exercised
    // here via a 1-row cap), and that rotate() resets remap rows to
    // zero at the epoch boundary with labels preserved (StreamingSpec
    // proves the preservation; this leg prints the growth + reset).
    if (legs("rotate")) {
      val ledger = docs.limit(1)
        .select(col("doc_id"), col("doc_id").as("label"))
      val nCorpus = ledger.count()
      val perBatch = 400
      var nextId = 10000000L
      def mergeBatch(n: Int): Seq[ComponentStream.Edge] =
        (0 until n).map { _ =>
          val a = nextId; nextId += 2
          ComponentStream.Edge(a, a + 1)
        }
      val memR = MemoryStream[ComponentStream.Edge]
      val (w, m) = ComponentStream.maintain(spark, memR.toDF(), ledger,
        remapBroadcastCap = 1L)
      val qR = w.queryName("lat_rotate").start()
      (0 until triggers).foreach { i =>
        val batch = mergeBatch(if (i == 0) perBatch / 100 else perBatch)
        val t0 = System.nanoTime()
        memR.addData(batch.toIndexedSeq: _*)
        qR.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"| rotate | $nCorpus | ${i + 1} | ${batch.length} " +
          f"| $ms%.0f | - | - | - | ${m.remapSize} |")
      }
      qR.stop()
      val t0 = System.nanoTime()
      val fs = sq.sparkSession.range(1).select(lit(1L).as("doc_id"),
        lit(1L).as("label")) // rotation cost on a minimal frame: the
      // real materialization walks the daily first-sight output anyway
      m.rotate(fs)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"| rotate(epoch) | $nCorpus | - | 0 | $ms%.0f | - | - " +
        f"| - | ${m.remapSize} |")
    }

    // media leg over the image fingerprints
    if (legs("media")) {
      val fps = Multimodal.imagePhash(spark, sfDir).cache()
      val fpArrivals = fps.filter(col("media_id") >= maxDoc * 4 / 5)
        .as[MediaDedupStream.RawFp].collect().sortBy(_.media_id)
      val fpBatches = fpArrivals.grouped(
        math.max(1, (fpArrivals.length + triggers - 1) / triggers)).toSeq
      for (frac <- Seq(2, 4)) {
        val corpus = fps.filter(col("media_id") < maxDoc * frac / 5)
        val nCorpus = corpus.count()
        val memM = MemoryStream[MediaDedupStream.RawFp]
        val qM = MediaDedupStream.matches(spark, memM.toDF(), corpus,
            Multimodal.PhashThreshold)
          .writeStream.format("memory").queryName(s"lat_media_$frac")
          .outputMode("append").start()
        drive(qM, fpBatches.length,
          i => { memM.addData(fpBatches(i).toIndexedSeq: _*)
            fpBatches(i).length },
          "media", nCorpus)
      }
    }
    spark.stop()
  }
}
