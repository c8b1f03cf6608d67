package graft

import graft.queries.Registry
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST,
  GlobalLimit, Join, LocalRelation, LogicalPlan, Window}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Suite-wide plan-shape guards: structural rules that every query in the
  * Registry must satisfy, so the two classes of scale-killer the round-7
  * audit caught (a fact-scaled broadcast, a data-sized single-task window)
  * cannot recur silently as the suite grows. These complement PlanSpec's
  * per-query assertions: PlanSpec pins the intended plan of specific
  * queries; this sweep pins the invariants of ALL of them.
  */
class GuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** One optimized logical plan per registered query. Built once; the
    * iterative queries execute jobs during construction, so this is the
    * expensive part of the suite (~all 179 at sf0.001).
    */
  private lazy val plans: Seq[(String, LogicalPlan)] =
    Registry.all.map { q =>
      val p = q.name -> q.run(spark, sfDir).queryExecution.optimizedPlan
      spark.catalog.clearCache() // per-query caches must not leak across
      p
    }

  /** True when the subtree's row count is bounded by a grouping, a limit,
    * or literal data — i.e. it is group-grain, not data-sized. A cached
    * aggregate shows up as InMemoryRelation, so look through to its
    * physical plan.
    */
  private def groupGrain(p: LogicalPlan): Boolean = {
    var ok = false
    p.foreach {
      case _: Aggregate    => ok = true
      case _: GlobalLimit  => ok = true
      case _: LocalRelation => ok = true
      case r: InMemoryRelation
          if r.cachedPlan.toString.contains("Aggregate") => ok = true
      case _ =>
    }
    ok
  }

  /** Leaf tables a subtree scans, by fixture file name. */
  private def scannedTables(p: LogicalPlan): Seq[String] = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val buf = scala.collection.mutable.ListBuffer[String]()
    p.foreach { node =>
      if (node.children.isEmpty) {
        val s = node.toString
        names.foreach(n => if (s.contains(s"$n.parquet")) buf += n)
      }
    }
    buf.distinct.toList
  }

  // True dimension tables: fixed-cardinality regardless of scale factor
  // (TPC-H: region=5, nation=25). EVERYTHING else grows with SF and must
  // never be the argument of an explicit broadcast() unless reduced first.
  private val trueDims = Set("region", "nation")

  test("sweep: every unpartitioned Window reads group-grain input " +
      "(no data-sized single-task window anywhere in the suite)") {
    // No allowlist needed today: all ~11 unpartitioned-window sites run
    // over bounded aggregates (revenue blocks, deciles, months, langs).
    // A query that needs a genuine exception must be added here with a
    // comment justifying why its frame is bounded.
    val allow = Set.empty[String]
    for ((name, plan) <- plans if !allow(name)) {
      plan.foreach {
        case w: Window if w.partitionSpec.isEmpty =>
          assert(groupGrain(w.child),
            s"$name: unpartitioned Window over a non-group-grain child — " +
              s"this moves the whole input to ONE task at scale. Either " +
              s"partition the window or block-decompose the prefix sum " +
              s"(operators/Quantiles discipline).\n" + w.treeString)
        case _ =>
      }
    }
  }

  test("sweep: no Window partitions row-grain input by a key whose " +
      "EVERY expression has bounded cardinality (literal, or " +
      "modulo-by-a-literal) — the shape q396 shipped with in round 14: " +
      "partitioned, so the unpartitioned sweep is blind to it, but " +
      "each of the K partitions holds input/K rows in one task") {
    import org.apache.spark.sql.catalyst.expressions.{Alias,
      AttributeReference, Cast, ExprId, Expression, Literal, Pmod,
      Remainder}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val allow = Set.empty[String]
    for ((name, plan) <- plans if !allow(name)) {
      plan.foreach {
        case w: Window
            if w.partitionSpec.nonEmpty && !groupGrain(w.child) =>
          // alias definitions visible below this window, so a partition
          // key that is merely a RENAME of h % 8 is still seen through
          val defs = scala.collection.mutable
            .Map.empty[ExprId, Expression]
          w.child.foreach {
            case p: Project => p.projectList.foreach {
              case a: Alias => defs(a.exprId) = a.child
              case _ =>
            }
            case _ =>
          }
          def resolve(e: Expression, fuel: Int): Expression =
            if (fuel <= 0) e
            else e.transformUp {
              case ar: AttributeReference if defs.contains(ar.exprId) =>
                resolve(defs(ar.exprId), fuel - 1)
            }
          def bounded(e0: Expression): Boolean = resolve(e0, 8) match {
            case _: Literal => true
            case c: Cast => bounded(c.child)
            case e @ (_: Remainder | _: Pmod) =>
              e.children.last.isInstanceOf[Literal]
            case _ => false
          }
          assert(!w.partitionSpec.forall(bounded),
            s"$name: Window partitioned ONLY by bounded-cardinality " +
              s"keys (literals / modulo-by-literal) over row-grain " +
              s"input — each partition is input/K rows in ONE task at " +
              s"scale. Derive the key's cardinality from the corpus " +
              s"(q396's adaptive shard count) or block-decompose the " +
              s"scan (Selection.shardRunStats / q76).\n" + w.treeString)
        case _ =>
      }
    }
  }

  test("sweep: every explicit broadcast() wraps a true dim (region/" +
      "nation), a sub-aggregate, or a bounded sample — never a fact") {
    // Allowlisted: broadcasts of a FIXED-SIZE probe/seed set selected by
    // `vec_id < k` — a deployment constant, not a function of corpus size
    // (the ANN/k-means question at 100 TB is "few probes/seeds against a
    // huge corpus"). Structurally each is a Filter over the cached
    // quantized corpus, which this sweep cannot prove bounded.
    val allow = Set("q45_cosine_topk", "q46_ann_lsh", "q47_ann_ivf",
      "q108_kmeans_step", "q199_knn_classify", "q200_pq_assign",
      // q314's dense leg reuses q46's machinery: the broadcast sides are
      // the SINGLE query vector and its band keys (vec_id = const)
      "q314_rrf_fusion",
      // q322 audits q46's recall against q45's exact list — same fixed
      // probe-set broadcasts as both allowlisted parents
      "q322_ann_recall",
      // q350 mines negatives for the SAME fixed anchor set as q46
      // (vec_id < NumQueries): the broadcast sides are the 10 anchors
      // and their labels, both deployment constants
      "q350_hard_negatives",
      // q351 plans nprobe for q47 over the SAME fixed query set
      // (vec_id < NumQueries): both broadcast sides are the 10 probe
      // vectors (exact-top1 leg and cell-rank leg) — deployment
      // constants, not corpus-scaled
      "q351_ivf_nprobe_planning",
      // q355 audits q200's PQ approximation: the broadcast sides are
      // the 32-sub-vector codebook (vec_id < PqCodes), the 320-row
      // query x codeword LUT, and the 10-query probe set — all
      // deployment constants
      "q355_pq_adc_recall",
      // q356 re-assigns against q108's fixed 10-seed set (vec_id < 10)
      // and the 10-row step-1 centroid table — the second IS a
      // sub-aggregate but its lineage scans embeddings, which this
      // sweep cannot prove bounded
      "q356_kmeans_churn",
      // q359 reranks the SAME fixed query set (vec_id < NumQueries);
      // the broadcast sides are the 10 probe vectors and the 64-row
      // per-dim quantization stats — deployment constants
      "q359_int8_rank_fidelity",
      // q369 reuses q356's Lloyd machinery (same fixed 10-seed
      // broadcast) plus 10-row query-cell / per-query-count tables
      "q369_refresh_stability",
      // q376 audits the SAME fixed-id-range shape (vec_id <
      // ConsensusIds = 100, a chosen audit budget): the broadcast
      // sides are the k x 100 top-k frame and the 100 audited labels —
      // deployment constants, not corpus-scaled
      "q376_label_consensus",
      // q381's two retrieval legs broadcast the SAME fixed-id-range
      // query set (media_id < 100, 34 queries — the q375/q376 audit
      // budget); structurally a Filter over the paired tower/embedding
      // join, which this sweep cannot prove bounded
      "q381_crossmodal_recall",
      // q392 probes trie leaves for the SAME fixed query set (vec_id <
      // NumQueries = 10): both broadcast sides are the 10 probe vectors
      // (candidate re-rank leg and the exact self-audit leg) —
      // deployment constants, the q322/q351/q359 pattern
      "q392_trie_ann_recall",
      // q394 is q392's probe-budget sweep over the same fixed query
      // set: broadcast sides are the <= 4 x 10-row budget x query
      // probe frames, the 4-row budget axis, and the 10 probe vectors
      // — all deployment constants
      "q394_trie_ann_probe_sweep",
      // q398 probes the IVF index for the SAME fixed query set (vec_id
      // < NumQueries = 10): the broadcast sides are the <= 50-row
      // ranked probe list, the 10-row chosen-prefix frame, and the 10
      // probe vectors — deployment constants, the q351/q392 pattern
      "q398_ivf_nprobe_elastic",
      // q401's broadcast sides are the k ~ sqrt(n) centroid frames:
      // seeds (a 1-in-stride strided sample, k rows by construction)
      // and the refined centroids (a groupBy(cid) sub-aggregate, <= k
      // rows) — 32k rows x 64 ints at n = 1e9, a ~16 MB broadcast by
      // the FAISS sizing rule. Both lineages scan embeddings, which
      // this sweep cannot prove bounded (q356's case)
      "q401_ivf_centroid_serve")
    val violations = for {
      (name, plan) <- plans if !allow(name)
      j <- plan.collect { case j: Join => j }
      (side, hint) <- Seq(j.left -> j.hint.leftHint,
        j.right -> j.hint.rightHint)
      if hint.exists(_.strategy.contains(BROADCAST))
      if !(groupGrain(side) || scannedTables(side).forall(trueDims))
    } yield s"$name: broadcast() over ${scannedTables(side).mkString(",")}"
    assert(violations.isEmpty,
      "fact-scaled broadcast() sides (grow with SF, OOM at the 100 TB " +
        "target — shuffle-join on the key and broadcast only true dims " +
        "or aggregates):\n" + violations.distinct.mkString("\n"))
  }
}
