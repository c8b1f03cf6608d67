package graft

import graft.queries.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the properties that decide whether these
  * queries survive a 100x scale-up — filter pushdown into the parquet
  * scan, column pruning, broadcast vs shuffle join selection, partial
  * aggregation, and the absence of nested-loop joins. Locking them into
  * tests means a plan regression fails CI instead of melting a cluster.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = Registry.byName(name).run(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Parquet scans of the fixture table `table` in `df`'s executed plan.
    * A cached relation's scans count once, however often the plan reads
    * the relation.
    */
  private def tableScans(df: DataFrame, table: String): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        val cache = m.relation.cacheBuilder
        if (seen.add(cache)) walk(cache.cachedPlan) else 0
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.count(_.getName == s"$table.parquet")
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("q02: filters are pushed into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"),
      "range predicate must reach the scan:\n" + p)
    assert(p.contains("GreaterThan(l_discount,0.02)"), p)
  }

  test("q02: unused columns are pruned from the scan") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator
      .find(_.trim.startsWith("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("l_tax"),
      "l_tax is not referenced and must be pruned:\n" + readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q03: dimension joins are broadcast hash joins") {
    val p = plan("q03_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "nation/region lookups must not shuffle the fact side:\n" + p)
  }

  test("q04: fact-fact join is an equi join, never nested-loop") {
    val p = plan("q04_join_shuffle")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("join"), p)
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"expected partial+final HashAggregate, saw $hashAggs:\n" + p)
    assert(p.contains("partial_sum"),
      "map-side combine must appear in the aggregate functions:\n" + p)
  }

  test("q25: range join stays an equi join with residual predicate") {
    val p = plan("q25_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range predicate must ride the custkey equi join, not a cross product:\n" + p)
  }

  test("q45: query set is broadcast against the corpus") {
    val p = plan("q45_cosine_topk")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q08: window is partitioned (no single-partition global sort)") {
    val p = plan("q08_window_rank")
    assert(p.contains("Window"), p)
    // partitionBy o_custkey must appear in the window spec
    assert(p.contains("o_custkey"), p)
  }

  test("runtime bloom-filter pruning engages on selective joins") {
    // Size thresholds keep the rewrite dormant at fixture scale; lower
    // them to confirm the session config actually injects the filter —
    // the behavior a 100 TB selective dim-fact join relies on.
    // Runtime bloom filters target SHUFFLE joins (a broadcast join already
    // ships the small side), so disable auto-broadcast alongside the size
    // threshold for the demonstration.
    val scanKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(scanKey)
    val prevBcast = spark.conf.get(bcastKey)
    spark.conf.set(scanKey, "0")
    spark.conf.set(bcastKey, "-1")
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val sel = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain")
          || optimized.contains("bloom_filter"),
        "selective join should inject a runtime bloom filter:\n" + optimized)
    } finally {
      spark.conf.set(scanKey, prev)
      spark.conf.set(bcastKey, prevBcast)
    }
  }

  test("q47: probes and query set broadcast — the corpus side never shuffles") {
    val p = plan("q47_ann_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // The only REQUIRED-distribution shuffle allowed is the final top-k
    // window's partition-by-query shuffle of the small candidate set;
    // the corpus scan must reach the probe join without a planner-forced
    // repartition. Tables.widen's deliberate REPARTITION_BY_NUM scan
    // fan-out (round 16 — a no-op at cluster scale) is excluded: these
    // guards police ACCIDENTAL shuffles (ENSURE_REQUIREMENTS), not the
    // documented parallelism floor.
    val shuffles = p.linesIterator.count(_.contains("ENSURE_REQUIREMENTS"))
    assert(shuffles == 1,
      s"expected exactly the top-k window shuffle, saw $shuffles:\n" + p)
  }

  test("q88: prefix-sum windows are block-partitioned; only the superblock " +
      "table crosses a global window") {
    val df = queries.Registry.byName("q88_shard_pack").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    // windowspecdefinition(partCols..., orderCol ASC ..., frame): a
    // PARTITIONED spec opens with "col#N," (comma after the partition
    // column); a GLOBAL spec opens with its order column directly:
    // "col#N ASC". Extract (first column, following delimiter) per spec.
    val specRe = """windowspecdefinition\((\w+)#\d+L?([, ])""".r
    val specs = specRe.findAllMatchIn(optimized)
      .map(m => (m.group(1), m.group(2))).toList
    assert(specs.nonEmpty, optimized)
    val partitionedBy = specs.collect { case (c, ",") => c }
    val globalOrderedBy = specs.collect { case (c, " ") => c }
    assert(partitionedBy.toSet == Set("g", "g2"),
      s"data-sized cumsums must partition by block/superblock, got " +
        s"$partitionedBy in:\n$optimized")
    assert(globalOrderedBy == List("g2"),
      "the ONLY global window allowed is the one over the per-superblock " +
        s"totals (corpus/B² rows), got $globalOrderedBy in:\n$optimized")
  }

  test("q49: keep-first window is partitioned by the chunk fingerprint") {
    // The C4-style dedup's only windows must partition on fp (the md5
    // chunk key) — a global window here would serialize the corpus.
    val df = queries.Registry.byName("q49_chunk_dedup").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val windowSpecs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(windowSpecs.nonEmpty, optimized)
    assert(windowSpecs.forall(_.contains("windowspecdefinition(fp#")),
      "keep-first must partition by chunk fingerprint:\n" + optimized)
  }

  test("q59: centroid aggregate is partial+final over the exploded vectors") {
    // The explode multiplies rows by dims; without map-side combine the
    // exchange would carry the full exploded stream instead of
    // |labels| x dims partial rows per partition.
    val p = plan("q59_label_centroids")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "map-side combine must appear below the exchange:\n" + p)
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"expected partial+final HashAggregate, saw $hashAggs:\n" + p)
  }

  test("q99: MERGE reuses one exchange per input (windows and join share " +
      "the user_id partitioning)") {
    val p = plan("q99_merge_upsert")
    assert(p.contains("FullOuter"), p)
    // Each side shuffles ONCE on user_id for its latest-wins window; the
    // full-outer join must reuse that partitioning, not add a third/fourth
    // exchange. ("- Exchange (" matches shuffle exchanges at any tree
    // depth and never "- BroadcastExchange (".)
    val shuffles = p.linesIterator.count(_.contains("- Exchange ("))
    assert(shuffles == 2,
      s"expected exactly one exchange per merge input, saw $shuffles:\n" + p)
  }

  test("q98: semantic-dedup candidates come from a cell equi join, " +
      "never an all-pairs product") {
    val p = plan("q98_semantic_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      "in-cell pairing must ride the cell equi join:\n" + p)
  }

  test("q104: the morton2 key is computed inside whole-stage codegen") {
    // The codegen explain dump contains the Java the stages compile; the
    // defineCodeGen call site must appear there (an interpreted fallback
    // would call eval via the expression tree instead).
    // AQE defers stage planning, so the codegen dump of an unexecuted
    // adaptive plan is empty — plan this one query without it.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val gen =
      try Registry.byName("q104_zorder").run(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("codegen"))
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(gen.contains("Morton2.interleave"),
      "morton2 must compile into a WholeStageCodegen stage:\n" +
        gen.take(4000))
  }

  test("q100/q103: sampling windows are partitioned by the group key; " +
      "the domain-stats join broadcasts") {
    val p100 = plan("q100_domain_mix")
    assert(p100.contains("BroadcastExchange"),
      "|domains|-row stats frame must broadcast:\n" + p100)
    val opt100 = Registry.byName("q100_domain_mix").run(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val specs100 = opt100.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs100.nonEmpty && specs100.forall(
      _.contains("windowspecdefinition(lang#")), opt100)
    val opt103 = Registry.byName("q103_group_reservoir").run(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val specs103 = opt103.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs103.nonEmpty && specs103.forall(
      _.contains("windowspecdefinition(source#")), opt103)
  }

  test("q101/q102: binning scans read only the price column and aggregate " +
      "partial+final") {
    for (name <- Seq("q101_histogram", "q102_equidepth_bins")) {
      val p = plan(name)
      val readSchemas = p.linesIterator
        .filter(_.trim.startsWith("ReadSchema:")).toList
      assert(readSchemas.nonEmpty, p)
      assert(readSchemas.forall(rs =>
          rs.contains("l_extendedprice") && !rs.contains("l_quantity")),
        s"$name must scan only the binned column:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"$name stats/cutpoints must broadcast:\n$p")
      val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(hashAggs >= 2, s"$name: partial+final expected:\n$p")
    }
  }

  test("q106: grouped-decile windows all partition on the group key") {
    // The distributed per-group quantile machinery must never open a
    // global window: in-block cumsums key on (grp, block), block offsets
    // on grp — an empty partition spec would serialize a group's values.
    val df = Registry.byName("q106_grouped_deciles").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, optimized)
    assert(specs.forall(_.contains("windowspecdefinition(grp#")),
      "every quantile window must partition by grp:\n" + optimized)
  }

  test("q108: k-means assignment broadcasts the seeds and collapses " +
      "pairs map-side") {
    val p = plan("q108_kmeans_step")
    assert(p.contains("BroadcastExchange"),
      "K seed vectors must broadcast:\n" + p)
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "argmin must partial-aggregate before the exchange:\n" + p)
    // the corpus reaches the assignment join without a planner-forced
    // shuffle: the only required-distribution exchanges are the two
    // aggregation ones (per-vector argmin, then per-centroid stats).
    // Tables.widen's REPARTITION_BY_NUM scan fan-out is excluded — see
    // the q47 guard.
    val shuffles = p.linesIterator.count(_.contains("ENSURE_REQUIREMENTS"))
    assert(shuffles <= 2,
      s"expected only the two aggregation exchanges, saw $shuffles:\n" + p)
  }

  test("q110/q112: blocked joins stay equi joins (no all-pairs product)") {
    for (name <- Seq("q110_fuzzy_join", "q112_cooccurrence")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin")
          && !p.contains("Cartesian"),
        s"$name candidates must ride the blocking-key equi join:\n$p")
    }
  }

  test("q111: the fill window partitions on user_id") {
    val df = Registry.byName("q111_gap_fill").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, optimized)
    assert(specs.forall(_.contains("windowspecdefinition(user_id#")),
      "forward fill must partition by user:\n" + optimized)
  }

  test("q114/q115: iterative/merge plans stay equi-join + partial-agg") {
    for (name <- Seq("q114_incr_agg", "q115_pagerank")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin")
          && !p.contains("Cartesian"), s"$name must not cross-product:\n$p")
      val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(hashAggs >= 2, s"$name: partial+final expected:\n$p")
    }
  }

  test("q118: top-k runs as a partial+final aggregate, not a window sort") {
    val p = plan("q118_topk_agg")
    assert(!p.contains("Window"),
      "the k-bounded aggregate must replace the window formulation:\n" + p)
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("ObjectHashAggregate")
        || l.contains("SortAggregate"))
    assert(aggs >= 2, s"partial+final aggregate expected:\n$p")
  }

  test("q76: no single-partition window over a data-sized input") {
    // The trailing RANGE frame must run partitioned by the derived block
    // key (windowspecdefinition lists its partition columns first); an
    // empty partition spec would be the global-sort scale-killer.
    val df = queries.Registry.byName("q76_window_frames").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val windowSpecs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(windowSpecs.nonEmpty, optimized)
    assert(windowSpecs.forall(l =>
        l.contains("windowspecdefinition(g#") ||
        l.contains("windowspecdefinition(o_orderpriority#")),
      "every window must partition on g (block key) or o_orderpriority:\n"
        + windowSpecs.mkString("\n"))
  }

  test("q121: skyline is join-free and its data-sized window is bucketed") {
    val df = queries.Registry.byName("q121_skyline").run(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // a naive skyline is a dominance self-join; this plan must have none
    assert(!p.contains("Join"), "skyline must not self-join:\n" + p)
    // the pass over the distinct-pair frame partitions on the bucket; only
    // the merge over the tiny union of local frontiers may be global
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("windowspecdefinition(b#")),
      "local skyline must partition on the bucket key:\n"
        + specs.mkString("\n"))
  }

  test("q122: SCD2 runs on a single user_id exchange") {
    val df = queries.Registry.byName("q122_scd2").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1,
      s"change-detect lag, valid_to lead and version must share ONE "
        + s"user_id shuffle, saw $exchanges:\n" + p)
  }

  test("q123: zone-map stats aggregate partial+final at scan speed") {
    val p = plan("q123_zonemap")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "map-side combine must appear:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("q124: quantile frame broadcasts back against the fact scan") {
    val p = plan("q124_robust_stats")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the |groups|-row quantile frame must broadcast, not shuffle the "
        + "fact side:\n" + p)
  }

  test("q125: transition windows partition on user_id") {
    val df = queries.Registry.byName("q125_transitions").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(
        _.contains("windowspecdefinition(user_id#")),
      specs.mkString("\n"))
  }

  test("q127/q129: attribution and TWA run on one user_id exchange each") {
    Seq("q127_attribution", "q129_twa").foreach { name =>
      val df = queries.Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning(user_id"))
      assert(exchanges == 1,
        s"$name: window + per-user aggregate must share ONE user_id "
          + s"shuffle, saw $exchanges:\n" + p)
    }
  }

  test("q130: the p99 cut broadcasts back; vectors never reshuffle for it") {
    val df = queries.Registry.byName("q130_embedding_qa").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      "the 1-row quantile frame must broadcast:\n" + p)
  }

  test("q128: the representative rank window partitions on component") {
    val df = queries.Registry.byName("q128_cluster_rep").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(
        _.contains("windowspecdefinition(component#")),
      specs.mkString("\n"))
  }

  test("q131: CMS grid aggregates partial+final; probes broadcast") {
    val p = plan("q131_cms")
    assert(p.contains("partial_count"),
      "sketch build must map-side combine:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the |keys|xD probe frame must broadcast against the grid:\n" + p)
  }

  test("q134: HLL registers partial-aggregate; state is |groups|x64") {
    val p = plan("q134_hll")
    assert(p.contains("partial_max"),
      "register max must map-side combine:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q132: the data-sized sweep window partitions on the block key") {
    val df = queries.Registry.byName("q132_concurrency").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    // within-block cumsum partitions on g; only the |blocks|-row totals
    // window is global
    assert(specs.exists(_.contains("windowspecdefinition(g#")),
      specs.mkString("\n"))
  }

  test("q132/q194: the running-sum input is read from its table once " +
      "(a cached relation counts once, however often it is read)") {
    for ((name, table) <- Seq("q132_concurrency" -> "events",
        "q194_sorted_neighborhood" -> "documents")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val n = tableScans(df, table)
      assert(n == 1, s"$name scans $table $n times:\n" +
        df.queryExecution.executedPlan)
      spark.catalog.clearCache()
    }
  }

  test("q133: referential rule is a left-anti join, never a product") {
    val df = queries.Registry.byName("q133_dq_checks").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126: novelty never joins on the gram key") {
    val df = queries.Registry.byName("q126_novelty").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the per-doc novel count folds out of the first-occurrence aggregate;
    // grams are only ever a grouping key, never a join key (a gram-keyed
    // join would shuffle candidate pairs at corpus scale)
    val joinKeyLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("[g#")).toList
    assert(joinKeyLines.isEmpty, joinKeyLines.mkString("\n"))
  }

  test("q135: degree lookups broadcast; wedge join stays equi") {
    val df = queries.Registry.byName("q135_triangles").run(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // deg is |parts|-bounded and must broadcast against the edge table;
    // the triangle enumeration must be equi-join only — a nested-loop
    // fallback would be the all-pairs scale-killer the orientation exists
    // to prevent
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q137: the rank prefix sum never runs a data-sized global window") {
    val df = queries.Registry.byName("q137_auc").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    // within-block negative-count cumsum partitions on g; only the
    // |blocks|-row offsets window is global (same discipline as q76/q132)
    assert(specs.exists(_.contains("windowspecdefinition(g#")),
      specs.mkString("\n"))
  }

  test("q141: every interval-union window partitions on user_id") {
    val df = queries.Registry.byName("q141_interval_union").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, optimized)
    assert(specs.forall(_.contains("windowspecdefinition(user_id#")),
      "island detection must never sort globally:\n" + specs.mkString("\n"))
  }

  test("q143/q144: scores bin against broadcast cutpoints, not NTILE") {
    for (name <- Seq("q143_rfm", "q144_lift")) {
      val df = queries.Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      // quantile scoring must be a row-local fold over broadcast cut
      // arrays; an ntile window would global-sort the customer table
      assert(!p.contains("ntile"), s"$name:\n" + p)
      assert(p.contains("BroadcastExchange") || p.contains("broadcast"),
        s"$name: cutpoints must broadcast back:\n" + p)
    }
  }

  test("q145: tf aggregates partial+final; the rank window keys on doc_id") {
    val df = queries.Registry.byName("q145_tfidf").run(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("partial_count"),
      "tf must map-side combine before the (doc,term) shuffle:\n" + p)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id#")),
      "top-term rank must partition per document, never globally:\n"
        + specs.mkString("\n"))
  }

  test("q146: split assignment is scan -> project — zero exchanges") {
    val df = queries.Registry.byName("q146_stratified_split").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the whole point of the hash gate: membership is row-local, so no
    // operator may REQUIRE a distribution (no ENSURE_REQUIREMENTS
    // exchange, no broadcast) at any scale. Tables.widen's deliberate
    // REPARTITION_BY_NUM scan fan-out (no-op at cluster scale) is the
    // one allowed exchange — see the q47 guard.
    assert(!p.contains("ENSURE_REQUIREMENTS") && !p.contains("BroadcastExchange"),
      "hash-gate split must not shuffle:\n" + p)
  }

  test("q149: bigram top-k is TakeOrdered, never a global sort of the " +
      "n-gram table") {
    val df = queries.Registry.byName("q149_bigrams").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT over ORDER BY must plan as per-partition heaps + driver "
        + "merge:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the (bigram, doc) pre-aggregate must map-side combine:\n" + p)
  }

  test("q150/q151: scrub and canonicalize are row-local — no joins at all") {
    for (name <- Seq("q150_pii_scrub", "q151_url_normalize")) {
      val df = queries.Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"),
        s"$name must be projection + one rollup, never a join:\n" + p)
      // required-distribution exchanges only — Tables.widen's deliberate
      // scan fan-out is excluded, see the q47 guard
      val exchanges = p.linesIterator.count(_.contains("ENSURE_REQUIREMENTS"))
      assert(exchanges <= 2,
        s"$name: one aggregate shuffle expected (saw $exchanges):\n" + p)
    }
  }

  test("q147/q152: sufficient statistics collapse in one partial+final " +
      "aggregate pass") {
    for (name <- Seq("q147_chisq", "q152_correlation")) {
      val df = queries.Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$name: map-side combine expected:\n" + p)
      assert(!p.contains("CartesianProduct"),
        s"$name: the 1-row combines must stay broadcast-sized:\n" + p)
    }
  }

  test("q153: containment candidates ride equi joins only") {
    val df = queries.Registry.byName("q153_containment").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      "band-bucket candidates must never degrade to all-pairs:\n" + p)
  }

  test("q155: both session windows and the rollup share the user_id key") {
    val df = queries.Registry.byName("q155_sessionize").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      "gap detection must never sort globally:\n" + specs.mkString("\n"))
    val p = df.queryExecution.executedPlan.toString
    // lag + running sum + rollup all key on user_id: exactly one shuffle
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    assert(exchanges <= 1,
      s"sessionize must reuse ONE user_id exchange (saw $exchanges):\n" + p)
  }

  test("q156: four power sums collapse in one partial+final aggregate") {
    val df = queries.Registry.byName("q156_moments").run(spark, sfDir)
    val f = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(f.contains("partial_sum"), f)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"moment sums must be a single shuffle (saw $exchanges):\n" + p)
  }

  test("q157: nation dim broadcasts; ordered collect aggregates " +
      "partial+final") {
    val df = queries.Registry.byName("q157_ordered_agg").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the 25-row nation dim must broadcast:\n" + p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "collect_list must run as a real aggregate:\n" + p)
  }

  test("q158: vocabulary membership is a broadcast anti-join") {
    val df = queries.Registry.byName("q158_oov_rate").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "the K-bounded vocab must broadcast against the token partials:\n" + p)
  }

  test("q159/q160: profile statistics run over the key/group table; " +
      "fences broadcast back") {
    val skew = queries.Registry.byName("q159_key_skew").run(spark, sfDir)
    val ps = skew.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(ps.contains("partial_count") || ps.contains("partial_sum"),
      "the key histogram must map-side combine:\n" + ps)
    val iqr = queries.Registry.byName("q160_iqr_outliers").run(spark, sfDir)
    val pi = iqr.queryExecution.executedPlan.toString
    assert(pi.contains("BroadcastHashJoin"),
      "the |groups|-row fence table must broadcast back:\n" + pi)
  }

  test("q154: weighted-median windows run on the bounded value histogram, " +
      "keyed by flag") {
    val df = queries.Registry.byName("q154_weighted_median").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("flag#")),
      "cumulative weight must partition on the group key:\n"
        + specs.mkString("\n"))
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum"),
      "the value histogram must map-side combine:\n" + p)
  }

  test("q161: snapshot diff is ONE co-partitioned full-outer join, " +
      "never nested-loop") {
    val df = queries.Registry.byName("q161_snapshot_diff").run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("FullOuter"), "classification needs full-outer:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      p)
    // both snapshots come from the same scan; the join keys are equi
    assert(p.linesIterator.count(_.trim.startsWith("Scan parquet")) <= 2, p)
  }

  test("q162: KS cumulative runs per-block; only the |blocks|-row " +
      "offsets window is global") {
    val df = queries.Registry.byName("q162_ks_test").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("windowspecdefinition(g#")),
      "the value-grain cumsum must partition on the block key:\n"
        + specs.mkString("\n"))
  }

  test("q163: CDC compaction is one keyed ranking window + rollup") {
    val df = queries.Registry.byName("q163_cdc_apply").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      "latest-wins must rank within the key, never globally:\n"
        + specs.mkString("\n"))
  }

  test("q165/q166: allocation and degree histogram aggregate with " +
      "map-side combine; the scalar denominator broadcasts") {
    val ney = queries.Registry.byName("q165_neyman_alloc").run(spark, sfDir)
    val pn = ney.queryExecution.executedPlan.toString
    assert(pn.contains("partial_count") || pn.contains("partial_sum"), pn)
    assert(!pn.contains("CartesianProduct"),
      "the 1-row denominator must broadcast, not cartesian:\n" + pn)
    val dh = queries.Registry.byName("q166_degree_hist").run(spark, sfDir)
    val pd = dh.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!pd.contains("BroadcastNestedLoopJoin"), pd)
    assert(pd.contains("partial_count"),
      "degree counting must map-side combine:\n" + pd)
  }

  test("q167/q169: budget and forecast statistics aggregate map-side; " +
      "only group-grain tables cross windows or scalar joins") {
    val tb = queries.Registry.byName("q167_token_budget").run(spark, sfDir)
    val pt = tb.queryExecution.executedPlan.toString
    assert(pt.contains("partial_count") || pt.contains("partial_sum"), pt)
    assert(!pt.contains("CartesianProduct"),
      "the 1-row total must broadcast:\n" + pt)
    val jf = queries.Registry.byName("q169_join_forecast").run(spark, sfDir)
    val pj = jf.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(pj.contains("partial_count"),
      "the key histogram must map-side combine:\n" + pj)
  }

  test("q171: the overlap matrix joins ON the chunk fingerprint — " +
      "equi join, bounded fan-out, never a source cross product") {
    val df = queries.Registry.byName("q171_source_overlap").run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      p)
    assert(p.contains("fp"), "the join key must be the fingerprint:\n" + p)
    // the distinct (source, fp) grain collapses BEFORE the self-join
    assert(p.contains("partial_"), p)
  }

  test("q172/q174: interpolation and inter-event windows all partition " +
      "on their keys — no global data-sized window") {
    for ((name, key) <- Seq("q172_interp_fill" -> "user_id#",
        "q174_interevent_stats" -> "event_type#")) {
      val df = queries.Registry.byName(name).run(spark, sfDir)
      val specs = df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("windowspecdefinition")).toList
      assert(specs.nonEmpty && specs.forall(_.contains(key)),
        s"$name windows must partition on $key:\n" + specs.mkString("\n"))
    }
  }

  test("q175/q176: reconciliation joins on the order key (no BNL); " +
      "the ABC cumulative window sees only the part-grain table") {
    val rec = queries.Registry.byName("q175_reconciliation").run(spark, sfDir)
    val pr = rec.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!pr.contains("BroadcastNestedLoopJoin") && !pr.contains("Cartesian"),
      pr)
    assert(pr.contains("partial_sum"),
      "line terms must pre-aggregate map-side:\n" + pr)
    val abc = queries.Registry.byName("q176_abc_class").run(spark, sfDir)
    val pa = abc.queryExecution.executedPlan.toString
    assert(pa.contains("partial_sum"), pa)
    assert(!pa.contains("CartesianProduct"),
      "the 1-row revenue total must broadcast:\n" + pa)
    // the Pareto prefix sum is block-decomposed: every window over the
    // part-grain table partitions on the revenue block g; the only
    // unpartitioned ordering runs over the bounded block-totals table
    val abcSpecs = abc.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(abcSpecs.exists(_.contains("g#")),
      "the part-grain cumsum must partition on the revenue block:\n"
        + abcSpecs.mkString("\n"))
  }

  test("q179: customer scales with SF so it sort-merge-joins on the " +
      "custkey; only the true dims (nation/region) broadcast") {
    val df = queries.Registry.byName("q179_pct_of_parent").run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"),
      "the customer join must be a shuffle join — customer is fact-"
        + "scaled and must never broadcast:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "nation/region are true dims and must broadcast:\n" + p)
    // the fact side pre-aggregates to customer grain before its shuffle
    assert(p.contains("partial_sum"), p)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("region#")),
      "the parent subtotal partitions on region over group-grain rows:\n"
        + specs.mkString("\n"))
  }

  test("q180: both attribution count windows partition on user_id — " +
      "one exchange, no purchase-x-touch join") {
    val df = queries.Registry.byName("q180_linear_attribution")
      .run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      "attribution must be windows, not a pair join:\n" + p)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      "credit windows must partition on user_id:\n" + specs.mkString("\n"))
    // both conditional counts share ONE Window node (one exchange)
    val windowNodes = p.linesIterator.count(_.trim.startsWith("Window ("))
    assert(windowNodes <= 1,
      s"both counts must share one window pass, saw $windowNodes:\n" + p)
  }

  test("q181/q187: the growth and pow2-histogram plans are partial+final " +
      "aggregates; the lag window reads the month grain only") {
    for (name <- Seq("q181_growth_rates", "q187_pow2_hist")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name needs map-side combine:\n" + p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("q182: the A/B readout joins once on the customer key and " +
      "collapses to integer sufficient statistics") {
    val p = plan("q182_ab_test")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      p)
    assert(p.contains("partial_"),
      "group sizes must partial-aggregate:\n" + p)
  }

  test("q183: the Gini rank windows partition on the cents block; only " +
      "the block-counts table crosses a global ordering") {
    val df = queries.Registry.byName("q183_gini").run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("g#")),
      "the per-customer rank must partition on the block:\n"
        + specs.mkString("\n"))
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q184: the bucketed join is exchange-free on both sides") {
    val df = queries.Registry.byName("q184_bucketed_join").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"),
      "the merge hint must pin SMJ over the bucketed layout:\n" + p)
    // the ONLY exchange allowed is the final 5-group aggregate's; the
    // join itself must read the bucketed layout shuffle-free
    val joinPart = p.linesIterator.dropWhile(!_.contains("SortMergeJoin"))
      .toList
    assert(!joinPart.exists(_.contains("Exchange")),
      "bucketed sides must not re-shuffle below the join:\n" + p)
  }

  test("q185/q186: the co-order graph rounds and the Jaccard top-k " +
      "stay equi-join + TakeOrdered — no BNL, no global sort") {
    val p185 = plan("q185_label_prop")
    assert(!p185.contains("BroadcastNestedLoopJoin")
      && !p185.contains("Cartesian"), p185)
    // round 16: the per-round eager checkpoint (which stops the
    // 2^rounds duplicate-subtree execution) truncates the final plan to
    // the cluster rollup over the checkpointed labels, so the neighbor
    // min's map-side combine is asserted on a ROUND's plan instead
    assert(p185.contains("partial_count"),
      "the cluster rollup must combine map-side:\n" + p185)
    val roundPlan = {
      import org.apache.spark.sql.functions._
      val labels = spark.range(4).select(col("id").as("v"),
        col("id").as("lbl"))
      val edges = spark.range(3).select(col("id").as("s"),
        (col("id") + 1).as("t"))
      edges.join(labels.select(col("v").as("tv"), col("lbl").as("nlbl")),
          col("t") === col("tv"))
        .groupBy(col("s")).agg(min(col("nlbl")).as("nmin"))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    assert(roundPlan.contains("partial_min"),
      "neighbor min must combine map-side:\n" + roundPlan)
    val p186 = plan("q186_copurchase_jaccard")
    assert(!p186.contains("BroadcastNestedLoopJoin")
      && !p186.contains("Cartesian"), p186)
    assert(p186.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort:\n" + p186)
  }

  test("q188/q191: the rolling-median and survivorship windows all " +
      "partition on user_id — per-entity series, never global") {
    for (name <- Seq("q188_rolling_median", "q191_survivorship")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val specs = df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("windowspecdefinition")).toList
      assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
        s"$name windows must partition on user_id:\n" + specs.mkString("\n"))
    }
  }

  test("q189/q192/q194: global ranks come from block prefix sums — the " +
      "only unpartitioned ordering reads the block-counts aggregate") {
    for ((name, blockKey) <- Seq("q189_quantile_norm" -> "g#",
        "q192_systematic_sample" -> "g#",
        "q194_sorted_neighborhood" -> "g#")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      // q189 carries the suite's one sanctioned BNL shape: the broadcast
      // cross join of the 1-row quantile-cut grid (same as q101/q102)
      if (name != "q189_quantile_norm")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n" + p)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
      // every window keys on the block id — either partitioned on it
      // (row-grain ranks) or ordering the bounded block-counts table by
      // it (GuardSpec separately proves any empty-partition window reads
      // an aggregate)
      val specs = df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("windowspecdefinition")).toList
      assert(specs.nonEmpty && specs.forall(_.contains(blockKey)),
        s"$name windows must key on the block id:\n" + specs.mkString("\n"))
      spark.catalog.clearCache()
    }
  }

  test("q193/q190: the encode/scale lookups broadcast the group-grain " +
      "stats — one fact scan, no fact-side shuffle join") {
    for (name <- Seq("q193_target_encode", "q190_feature_scale")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name group stats must broadcast:\n" + p)
      assert(!p.contains("SortMergeJoin"),
        s"$name must not shuffle the fact side for a group-grain " +
          s"lookup:\n" + p)
      assert(p.contains("partial_"),
        s"$name group stats must combine map-side:\n" + p)
    }
  }

  test("q195/q197: the day/histogram grains collapse map-side before " +
      "any window; per-type windows partition on event_type") {
    for ((name, key) <- Seq("q195_cusum" -> "event_type#",
        "q197_group_impute" -> "g#")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(p.contains("partial_"),
        s"$name grain aggregate must combine map-side:\n" + p)
      assert(!p.contains("BroadcastNestedLoopJoin")
        && !p.contains("CartesianProduct"), s"$name:\n" + p)
      val specs = df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("windowspecdefinition")).toList
      assert(specs.forall(_.contains(key)),
        s"$name windows must partition on the group key:\n"
          + specs.mkString("\n"))
    }
  }

  test("q196: feature hashing is one explode + one partial-agg shuffle " +
      "— no join anywhere") {
    val p = plan("q196_feature_hash")
    assert(p.contains("Generate"), "the token explode:\n" + p)
    assert(p.contains("partial_"),
      "bucket counts must combine map-side:\n" + p)
    assert(!p.contains("Join"), "no join belongs in this plan:\n" + p)
  }

  test("q201: the time-travel cutoff reaches the scan as a pushed " +
      "filter; one keyed ranking window") {
    val df = Registry.byName("q201_time_travel").run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull(ts)"),
      "the version cutoff must reach the scan:\n" + p)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      "the latest-wins rank partitions on the key:\n" + specs.mkString("\n"))
  }

  test("q202/q203/q206: the series/block statistics collapse to bounded " +
      "grains map-side; no fact-sized window or cartesian") {
    for (name <- Seq("q202_rolling_corr", "q203_seasonality",
        "q206_jackknife_se")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(p.contains("partial_"),
        s"$name grain aggregate must combine map-side:\n" + p)
      assert(!p.contains("CartesianProduct"),
        s"$name: only broadcast-1-row scalar joins allowed:\n" + p)
      spark.catalog.clearCache()
    }
  }

  test("q204: the surrogate-key audit is one shuffle on the key, then " +
      "bounded bucket aggregates") {
    val p = plan("q204_surrogate_keys")
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin"),
      "the collision and bucket audits share the cached key grain — no " +
        "fact-side join:\n" + p)
  }

  test("q205: pairwise distances stay inside cell-equi joins — no " +
      "global cross product (the 1-row corpus-count broadcast is the " +
      "only BNL)") {
    val p = plan("q205_pair_dist_hist")
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the cell equi-join only:\n" + p)
    assert(p.contains("partial_"),
      "the bit-bucket histogram must combine map-side:\n" + p)
    // the pair join itself must be an equi-join on the cell (formatted
    // explain lists keys in the details: "Left keys [1]: [cell#N]")
    assert(p.contains("HashJoin") && p.contains("[cell#"),
      "the pair join keys on the cell:\n" + p)
  }

  test("q207/q208: the 1-NN self-join keys on the adaptive cell; the " +
      "rank window partitions on the probe vector") {
    for (name <- Seq("q207_confusion_matrix", "q208_class_metrics")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
      assert(p.contains("HashJoin") && p.contains("[cell#"),
        s"$name neighbor search must key on the cell:\n" + p)
      val specs = df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("windowspecdefinition")).toList
      assert(specs.nonEmpty && specs.forall(_.contains("vec_id#")),
        s"$name rank windows must partition on the probe vector:\n"
          + specs.mkString("\n"))
      spark.catalog.clearCache()
    }
  }

  test("q209: BM25 top-10 is TakeOrdered over the scored doc grain — " +
      "never a doc-grain global rank window") {
    val p = plan("q209_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be TakeOrdered:\n" + p)
    assert(p.contains("partial_"),
      "tf/dl grains must combine map-side:\n" + p)
  }

  test("q210: the size histogram adds only bounded aggregates over the " +
      "component grain — no new data-sized shapes beyond q48's rounds") {
    val df = Registry.byName("q210_cluster_size_dist").run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("partial_count"),
      "component sizes must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("q212: span pairs join on the df-capped chunk fingerprint; the " +
      "island windows partition on the pair diagonal") {
    val df = Registry.byName("q212_shared_span").run(spark, sfDir)
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("[fp#"), "the pair join keys on the fingerprint:\n" + p)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(s =>
        s.contains("doc_a#") && s.contains("diag#")),
      "island windows partition on (pair, diagonal):\n" + specs.mkString("\n"))
    spark.catalog.clearCache()
  }

  test("q213/q215: profile and CUPED grains collapse map-side; CUPED " +
      "broadcasts only the 1-row theta") {
    for (name <- Seq("q213_behavior_profiles", "q215_cuped")) {
      val df = Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(p.contains("partial_"),
        s"$name grains must combine map-side:\n" + p)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
      spark.catalog.clearCache()
    }
  }

  test("q216: burst islands ride per-type windows over the bounded day " +
      "grain") {
    val df = Registry.byName("q216_bursts").run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("event_type#")),
      "burst windows partition on event_type:\n" + specs.mkString("\n"))
  }

  test("q217: negatives come from a hash explode + LeftAnti on the " +
      "interaction key — no per-row RNG, no BNL") {
    val p = plan("q217_negative_sampling")
    assert(p.contains("LeftAnti"),
      "the interaction filter must be an anti-join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin")
      || p.contains("BuildRight"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rand("), "sampling must be hash-gated, not RNG:\n" + p)
  }

  test("q218: JW linkage pairs on token-block equi-joins over the " +
      "distinct-name grain; the measure runs as the native expression") {
    val p = plan("q218_jw_linkage")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "blocking must be equi-joins, not all-pairs:\n" + p)
    assert(p.contains("jaro_winkler"),
      "the native expression must appear in the plan:\n" + p)
    assert(p.contains("partial_count"),
      "the n_blocks pair count must combine map-side:\n" + p)
  }

  test("q219: winnowing windows partition by doc_id (bounded frames, " +
      "never a data-sized sort)") {
    val df = Registry.byName("q219_winnowing").run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id#")),
      "all winnowing frames key on doc_id:\n" + specs.mkString("\n"))
  }

  test("q220/q224: audit grains combine map-side; no nested loops") {
    for (name <- Seq("q220_k_anonymity", "q224_compaction_plan")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name must combine map-side:\n" + p)
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"), s"$name:\n" + p)
    }
  }

  test("q221: PMI unigram lookups join the vocabulary grain WITHOUT " +
      "broadcasting it (web-scale vocab is not a dim)") {
    val p = plan("q221_pmi_collocations")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be TakeOrdered, not a global sort:\n" + p)
  }

  test("q222: corr matrix reduces to ONE row in a single partial+final " +
      "aggregate pass (36 products ride the same scan)") {
    val p = plan("q222_corr_matrix")
    assert(p.contains("partial_sum"),
      "sufficient stats must combine map-side:\n" + p)
    assert(!p.contains("Exchange hashpartitioning"),
      "a global agg needs no hash exchange, only the single-partition " +
        "reduction:\n" + p)
  }

  test("q223: dim stats broadcast back as a sub-aggregate; vector rows " +
      "shuffle once to the vec grain") {
    val p = plan("q223_int8_quantize")
    assert(p.contains("BroadcastHashJoin"),
      "the 64-row dim-stats join must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the dim join must not shuffle the exploded fact side:\n" + p)
  }

  test("q225: assortativity builds edges via the co-partitioned order " +
      "self-join; degree joins shuffle the node grain (no fact broadcast)") {
    val p = plan("q225_assortativity")
    assert(!p.contains("CartesianProduct"), p)
    // 1-row scalar attach joins (n_nodes/n_edges) are the only BNLs.
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BuildRight"),
      p)
    assert(p.contains("partial_count"),
      "degrees must combine map-side:\n" + p)
  }

  test("q226: rank-sum cumulative partitions on the block key; the " +
      "block-offsets table broadcasts (q162 discipline)") {
    val df = queries.Registry.byName("q226_mann_whitney").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("windowspecdefinition(g#")),
      "the value-grain cumsum must partition on the block key:\n"
        + specs.mkString("\n"))
    val p = plan("q226_mann_whitney")
    assert(!p.contains("SortMergeJoin"),
      "the |blocks|-row offsets join must broadcast:\n" + p)
  }

  test("q227/q232: one-scan conditional aggregates — no join, one " +
      "partial+final reduction") {
    for (name <- Seq("q227_welch_ttest", "q232_cohens_kappa")) {
      val p = plan(name)
      assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Scan parquet\s*""")) == 1,
        s"$name must read its table exactly once:\n" + p)
      assert(!p.contains("Join"), s"$name needs no join:\n" + p)
    }
  }

  test("q228/q229: margins and totals ride broadcast off the cell/grid " +
      "aggregate; the stump argmax is TakeOrdered, not a global sort") {
    val cv = plan("q228_cramers_v")
    assert(!cv.contains("SortMergeJoin"),
      "group-grain margin joins must broadcast:\n" + cv)
    assert(cv.contains("partial_count"), cv)
    val ds = plan("q229_decision_stump")
    assert(ds.contains("TakeOrderedAndProject"),
      "best-split selection must be TakeOrdered(1), not a full sort:\n" + ds)
    assert(!ds.contains("CartesianProduct"), ds)
  }

  test("q230/q231: bounded-grain pair/lag joins never shuffle or " +
      "cartesian a fact side") {
    for (name <- Seq("q230_theil_sen", "q231_acf")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: 1-row/bounded attaches must broadcast:\n" + p)
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$name: grain aggregation must combine map-side:\n" + p)
    }
  }

  test("q234/q235/q237/q239: every top-k pick is TakeOrdered, never a " +
      "global sort; wedge/pair joins stay equi") {
    for (name <- Seq("q234_link_pred", "q235_bpe_pairs",
        "q237_kmv_distinct", "q239_naive_bayes")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: bounded top-k must be TakeOrdered:\n" + p)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
  }

  test("q240: hash-sign projection is fully row-local — no join, no " +
      "exchange, one scan") {
    val p = plan("q240_rand_proj")
    assert(!p.contains("Join"), "projection must not join:\n" + p)
    // no required-distribution exchange — Tables.widen's deliberate scan
    // fan-out is excluded, see the q47 guard
    assert(!p.contains("ENSURE_REQUIREMENTS") && !p.contains("BroadcastExchange"),
      "projection must not shuffle (row-local transform):\n" + p)
    assert(p.linesIterator.count(
      _.trim.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
  }

  test("q233: the peel loop's final plan aggregates degrees with " +
      "map-side combine off checkpointed edges") {
    val p = plan("q233_kcore")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q242: attribution windows all partition on user_id (one user " +
      "exchange, never a global window)") {
    val df = queries.Registry.byName("q242_position_attribution")
      .run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      "position/count windows must key on the user:\n" + specs.mkString("\n"))
  }

  test("q244: both rank prefix-sums partition on the block key " +
      "(q226/q162 discipline — no value-grain global window)") {
    val df = queries.Registry.byName("q244_spearman").run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    val valueGrain = specs.filterNot(_.contains("windowspecdefinition(g#"))
    assert(valueGrain.forall(_.contains("g#")),
      "value-grain cumsums must partition on the block key:\n"
        + specs.mkString("\n"))
  }

  test("q243/q245/q246: runs/ANOVA/movers keep facts on shuffle paths " +
      "and bounded picks on TakeOrdered") {
    val rt = plan("q243_runs_test")
    assert(!rt.contains("CartesianProduct"), rt)
    assert(rt.contains("partial_sum"), rt)
    val av = plan("q245_anova_f")
    assert(!av.contains("Join"), "ANOVA needs no join:\n" + av)
    assert(av.linesIterator.count(
      _.trim.matches("""\(\d+\) Scan parquet\s*""")) == 1, av)
    val mv = plan("q246_topk_movers")
    assert(mv.contains("TakeOrderedAndProject"), mv)
    assert(!mv.contains("CartesianProduct"), mv)
  }

  test("q247: the 64-row dim-stats join broadcasts back onto the " +
      "exploded frame (no shuffle of the fact side)") {
    val p = plan("q247_embed_whitening")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "group-grain stats must broadcast, not shuffle the explode:\n" + p)
  }

  test("q249/q250: iterative closure and raking keep every round on " +
      "keyed joins with broadcast margins (no cartesian, no global sort)") {
    for (name <- Seq("q249_bom_closure", "q250_ipf_raking")) {
      val df = queries.Registry.byName(name).run(spark, sfDir)
      val p = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
      // assert on the optimized logical plan's Sort(global = true) nodes —
      // string-matching the formatted output is fragile (sort nodes print
      // as "(N) Sort", and local SMJ sorts are fine)
      val globalSorts = df.queryExecution.optimizedPlan.collect {
        case srt: org.apache.spark.sql.catalyst.plans.logical.Sort
            if srt.global => srt
      }
      assert(globalSorts.isEmpty,
        s"$name: no global sort belongs in the final plan:\n"
          + globalSorts.mkString("\n"))
    }
  }

  test("q251: HLL registers combine map-side (partial_max) — the " +
      "mergeable-state shuffle is bounded by groups x 64") {
    val p = plan("q251_hll_merge")
    assert(p.contains("partial_max"),
      "register max must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q252/q253/q255: bars partition windows on the day; survival " +
      "and control-chart windows read bounded grains only") {
    val bars = queries.Registry.byName("q252_ohlc_bars").run(spark, sfDir)
    val specs = bars.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("day#")),
      "OHLC rank windows must key on the day:\n" + specs.mkString("\n"))
    for (name <- Seq("q253_kaplan_meier", "q255_imr_chart")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
  }

  test("q256/q258: corpus/engagement explodes stay row-local into one " +
      "keyed partial agg; top-k is TakeOrdered") {
    val sg = plan("q256_skipgram_cooc")
    assert(sg.contains("TakeOrderedAndProject"), sg)
    assert(sg.contains("partial_count"), sg)
    assert(!sg.contains("CartesianProduct"), sg)
    val wau = plan("q258_rolling_wau")
    assert(wau.contains("partial_count"), wau)
    assert(!wau.contains("CartesianProduct"),
      "the 7-row window-offset list must broadcast:\n" + wau)
  }

  test("q257/q259/q260: audits join on keys (no cartesian); the " +
      "uniqueness profile needs no join at all") {
    for (name <- Seq("q257_fk_audit", "q259_mix_decomposition")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
    val kp = plan("q260_key_profile")
    assert(!kp.contains("Join"), "profiling is aggregate-only:\n" + kp)
  }

  test("q261: every HITS half-step joins on the edge key and " +
      "normalizes via a broadcast scalar (no cartesian, no global sort)") {
    val p = plan("q261_hits")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 authorities must be TakeOrdered:\n" + p)
  }

  test("q264: percentile rank runs on the block prefix sum — the " +
      "value-grain cumsum partitions on the block key") {
    val df = queries.Registry.byName("q264_percentile_rank")
      .run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    val unblocked = specs.filterNot(_.contains("windowspecdefinition(g#"))
    assert(unblocked.forall(_.contains("g#")),
      "customer-grain cume_dist must block-decompose:\n"
        + specs.mkString("\n"))
  }

  test("q263/q265: row-local array mining feeds one keyed partial agg; " +
      "top-k picks are TakeOrdered") {
    val cp = plan("q263_compressibility")
    assert(!cp.contains("Join"), "compressibility is row-local + agg:\n" + cp)
    val kn = plan("q265_kn_counts")
    assert(kn.contains("TakeOrderedAndProject"), kn)
    assert(!kn.contains("CartesianProduct"), kn)
  }

  test("q271: the dim filter prunes the partitioned fact scan at " +
      "runtime (dynamic partition pruning reaches PartitionFilters)") {
    val p = plan("q271_dpp_prune")
    assert(p.contains("dynamicpruning"),
      "the nation filter must flow into the fact scan's partition " +
        "filters before any fact bytes are read:\n" + p)
  }

  test("q272/q273/q274: IVM joins on the view key; the arrival window " +
      "partitions on the user; looks fan out via broadcast") {
    val ivm = plan("q272_join_ivm")
    assert(!ivm.contains("CartesianProduct"), ivm)
    val ooo = queries.Registry.byName("q273_ooo_audit").run(spark, sfDir)
    val specs = ooo.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      "the running max must key on the user:\n" + specs.mkString("\n"))
    val gs = plan("q274_group_sequential")
    assert(!gs.contains("CartesianProduct"),
      "look/bounds attaches must broadcast:\n" + gs)
    assert(gs.contains("partial_sum"), gs)
  }

  test("q275: the spatial proximity join is EQUI on the cell key " +
      "(9-fanout probes), never a range BNL") {
    val p = plan("q275_grid_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the proximity pairing must stay on the cell-key equi join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q277: L-moment rank weights ride the block prefix sum " +
      "(no value-grain global window)") {
    val df = queries.Registry.byName("q277_l_moments").run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("windowspecdefinition(g#")),
      "the rank cumsum must partition on the block key:\n"
        + specs.mkString("\n"))
  }

  test("q279-q282: frontier BFS, elasticity, cohort LTV, and Wilson " +
      "funnel keep facts on keyed paths (no cartesian anywhere)") {
    for (name <- Seq("q279_khop_reach", "q280_elasticity",
        "q282_funnel_wilson")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
    val ltv = queries.Registry.byName("q281_cohort_ltv").run(spark, sfDir)
    val specs = ltv.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("cohort#")),
      "the LTV cumulative must partition on the cohort:\n"
        + specs.mkString("\n"))
  }

  test("q283-q288: dispersion/DEFF/event-study/overlap/transitivity/" +
      "MASE stay on keyed aggregates (no cartesian, map-side combine)") {
    for (name <- Seq("q283_dispersion", "q284_design_effect",
        "q285_event_study", "q286_audience_overlap",
        "q287_clustering_coeff", "q288_mase")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$name: grain aggregation must combine map-side:\n" + p)
    }
  }

  test("q289/q291: stylometry and EB shrinkage pick tops via " +
      "TakeOrdered with broadcast scalar priors/norms") {
    for (name <- Seq("q289_stylometry", "q291_eb_shrinkage")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: top-k must be TakeOrdered:\n" + p)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
  }

  test("q296-q301: ML-prep, effect-size, dashboard, and peak queries " +
      "keep bounded windows and broadcast scalars only") {
    for (name <- Seq("q293_capture_recapture", "q294_kendall_tau",
        "q295_content_fingerprint", "q296_lag_features",
        "q297_purged_split", "q298_nzv_filter", "q299_cohens_d",
        "q300_overview_dashboard", "q301_peak_detection")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
  }

  test("q302-q307: SRM/matching/quota/shift-share/growth-accounting " +
      "keep keyed paths; the match argmin and quota windows partition") {
    for (name <- Seq("q302_srm_check", "q303_shift_share",
        "q306_growth_accounting", "q307_kish_neff")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
    val nn = queries.Registry.byName("q305_nn_matching").run(spark, sfDir)
    val specs = nn.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("tid#")),
      "the 1-NN argmin must partition on the treated unit:\n"
        + specs.mkString("\n"))
    val qs = queries.Registry.byName("q304_quota_sample").run(spark, sfDir)
    val specs2 = qs.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs2.nonEmpty && specs2.forall(_.contains("stratum#")),
      "quota ranks must partition on the stratum:\n" + specs2.mkString("\n"))
  }

  test("q308-q312: distance/finance queries aggregate on bounded " +
      "grains with broadcast totals; the drawdown pick is TakeOrdered") {
    for (name <- Seq("q308_dist_distance", "q309_ma_crossover",
        "q310_vwap", "q311_sharpe_sortino")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p)
    }
    val md = plan("q312_max_drawdown")
    assert(md.contains("TakeOrderedAndProject"),
      "the worst-drawdown pick must be TakeOrdered(1):\n" + md)
  }

  test("q313: the 256-row trained model broadcasts back onto the " +
      "feature table; scoring is keyed partial aggs only") {
    val p = plan("q313_quality_gate")
    assert(p.contains("BroadcastHashJoin"),
      "the weight table must broadcast, never shuffle the features:\n" + p)
    assert(p.contains("partial_sum"),
      "the per-doc score agg must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "nothing in the scoring path may shuffle-join:\n" + p)
  }

  test("q314: both retrieval legs are k-bounded TakeOrdered lists; " +
      "the fusion joins lists, never corpus-sized frames") {
    val p = plan("q314_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      "each leg's top-k must be TakeOrdered, not a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q316: the farthest-point argmax is TakeOrdered(1); center " +
      "updates broadcast a single vector (no pairwise join)") {
    val p = plan("q316_kcenter_select")
    assert(p.contains("TakeOrderedAndProject"),
      "the per-round argmax must be TakeOrdered, never a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized join belongs in the traversal:\n" + p)
  }

  test("q315: per-round BPE argmax is TakeOrdered(1) over a map-side " +
      "combined pair agg; merges ride broadcast 1-row joins") {
    val p = plan("q315_bpe_merges")
    assert(p.contains("TakeOrderedAndProject"),
      "the round argmax must be TakeOrdered, never a global sort:\n" + p)
    assert(p.contains("partial_sum"),
      "pair counts must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q318/q319: segmentation top-20 is TakeOrdered; calibration is " +
      "one bounded-grain agg over the scoring aggregates") {
    val sg = plan("q318_bpe_segment")
    assert(sg.contains("TakeOrderedAndProject"),
      "the vocab top-20 must be TakeOrdered:\n" + sg)
    assert(!sg.contains("CartesianProduct"), sg)
    val cal = plan("q319_gate_calibration")
    assert(cal.contains("partial_count"),
      "bin counts must combine map-side:\n" + cal)
    assert(!cal.contains("CartesianProduct"), cal)
    assert(!cal.contains("SortMergeJoin"),
      "the model join must stay broadcast:\n" + cal)
  }

  test("q321: the corpus-grain offset cumsum partitions on the block " +
      "key; only the block-totals window is unpartitioned") {
    val df = queries.Registry.byName("q321_chunk_packing")
      .run(spark, sfDir)
    val specs = df.queryExecution.optimizedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("windowspecdefinition(g#")),
      "the doc-grain prefix sum must block-decompose:\n"
        + specs.mkString("\n"))
    val p = plan("q321_chunk_packing")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q322: recall audit joins two k-bounded lists; the probe set " +
      "broadcasts (no cartesian, no corpus self-shuffle)") {
    val p = plan("q322_ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNested"),
      "the fixed query set must broadcast:\n" + p)
  }

  test("q325/q326: the triple top-20 is TakeOrdered over a map-side " +
      "agg; the bloom word table broadcasts onto the probes") {
    val tr = plan("q325_frequent_triples")
    assert(tr.contains("TakeOrderedAndProject"),
      "frequent-triple top-20 must be TakeOrdered:\n" + tr)
    assert(tr.contains("partial_count"), tr)
    assert(!tr.contains("CartesianProduct"), tr)
    val bf = plan("q326_bloom_filter")
    assert(bf.contains("BroadcastHashJoin"),
      "the <=2048-row word table must broadcast:\n" + bf)
    assert(!bf.contains("CartesianProduct"), bf)
    assert(!bf.contains("SortMergeJoin"),
      "probing must never shuffle on the word key:\n" + bf)
  }

  test("q331: the 256-row DSIR ratio model broadcasts onto the feature " +
      "table; the resample gate never shuffle-joins the corpus") {
    val p = plan("q331_dsir_resample")
    assert(p.contains("BroadcastHashJoin"),
      "the ratio model must broadcast, never shuffle the features:\n" + p)
    assert(p.contains("partial_sum"),
      "per-doc weighting must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "nothing in the weighting/resample path may shuffle-join:\n" + p)
  }

  test("q332: duplication mass is keyed fingerprint shuffles only — " +
      "no self-join, no nested loop, partial aggs throughout") {
    val p = plan("q332_dup_substring_mass")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "chunk counting must combine map-side:\n" + p)
  }

  test("q333: towers and embeddings join keyed on media_id (both " +
      "corpus-scaled — no cartesian, no fact broadcast)") {
    val p = plan("q333_crossmodal_gate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q336/q338: sweep and contamination stay on keyed shuffles — " +
      "no cartesian; counting combines map-side") {
    val sw = plan("q336_threshold_sweep")
    assert(!sw.contains("CartesianProduct"), sw)
    assert(sw.contains("partial_count"), sw)
    val cl = plan("q338_crosslang_contamination")
    assert(!cl.contains("CartesianProduct"), cl)
    assert(cl.contains("partial_count"), cl)
  }

  test("q337/q341: both gate audits broadcast their 256-row models; " +
      "nothing in the scoring paths is a cartesian") {
    val lb = plan("q337_gate_length_bias")
    assert(lb.contains("BroadcastHashJoin"),
      "the weight model must broadcast:\n" + lb)
    assert(!lb.contains("CartesianProduct"), lb)
    val ag = plan("q341_gate_dsir_agreement")
    assert(ag.contains("BroadcastHashJoin"),
      "both 256-row models must broadcast:\n" + ag)
    assert(!ag.contains("CartesianProduct"), ag)
    assert(ag.contains("partial_sum"), ag)
  }

  test("q339: the |labels|-row centroid-sum table broadcasts onto the " +
      "vectors; scoring is row-local then one bounded rollup") {
    val p = plan("q339_label_silhouette")
    // the 10-row sum table rides a broadcast nested loop (no join key
    // by design: every vector scores against every label)
    assert(p.contains("BroadcastNestedLoopJoin")
        || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q340: both first-occurrence passes are keyed partial aggs; " +
      "the only windows run over the 50-doc-block aggregate") {
    val p = plan("q340_vocab_growth")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_min"),
      "first-occurrence must combine map-side:\n" + p)
  }

  test("q342/q343: placement and allocation are row-local + bounded " +
      "rollups; only 1-row totals broadcast") {
    val rv = plan("q342_rendezvous_shards")
    assert(!rv.contains("CartesianProduct"), rv)
    assert(!rv.contains("Window"),
      "HRW placement is row-local argmax, never a rank window:\n" + rv)
    assert(rv.contains("partial_count"), rv)
    val ny = plan("q343_neyman_allocation")
    assert(!ny.contains("CartesianProduct"), ny)
    assert(ny.contains("partial_sum"),
      "sufficient stats must combine map-side:\n" + ny)
  }

  test("q344: the keep-first window partitions on the chunk " +
      "fingerprint; the allocator grain is |sources|") {
    val p = plan("q344_effective_budget")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("windowspecdefinition(fp#"),
      "the dedup window must partition on fp, never run global:\n" + p)
  }

  test("q335: the composed curation plan carries NO window and no " +
      "cartesian anywhere; aggregation is partial+final throughout") {
    val p = plan("q335_curation_mix")
    assert(!p.contains("Window"),
      "nothing in gate->split->allocate->pack needs a global order:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"),
      "the source rollup must combine map-side:\n" + p)
  }

  test("q334: the KN model tables join on token keys (vocabulary-" +
      "scaled, never broadcast); only the 1-row type total broadcasts") {
    val p = plan("q334_kn_fluency_gate")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"),
      "the count models must combine map-side:\n" + p)
    // the only BroadcastExchange rows allowed are the 1-row nbt scalar
    // (its build side is a HashAggregate output, not a scan)
    assert(!p.linesIterator.exists(l =>
        l.contains("BroadcastExchange") && l.contains("parquet")),
      "no table scan may broadcast in the scoring path:\n" + p)
  }

  test("q345: reshard placement is row-local hash argmax — no window, " +
      "no join at all; the audit is one 16-group partial agg") {
    val p = plan("q345_reshard_disruption")
    assert(!p.contains("Window"),
      "HRW placement must never rank via a window:\n" + p)
    assert(!p.contains("Join"), "placement needs no join:\n" + p)
    assert(p.contains("partial_count"), p)
  }

  test("q346: both strata build bounded histograms via partial aggs; " +
      "scalar frames broadcast — no CartesianProduct anywhere") {
    val p = plan("q346_lsh_band_planning")
    assert(!p.contains("CartesianProduct"), p)
    // the query checkpoints both histograms, so their aggregates sit
    // upstream of its Scan ExistingRDD: check each builder's own plan
    val (bg, hi) = graft.queries.Dedup.bandPlanHists(spark, sfDir)
    for (h <- Seq(bg, hi)) {
      val hp = h.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(hp.contains("partial_count"),
        "histogram buckets must combine map-side:\n" + hp)
    }
    assert(p.contains("BroadcastNestedLoopJoin")
        || p.contains("BroadcastHashJoin"),
      "the 1-row scalar frames must broadcast:\n" + p)
  }

  test("q348: three verdict sets compare via keyed joins and 1-row " +
      "broadcast scalars — no CartesianProduct") {
    val p = plan("q348_dedup_family_agreement")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
    // the candidate self-joins read inputs materialized before the join,
    // so every broadcast join builds its right side on every run;
    // computed per side, AQE built on whichever side finished first
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BuildRight"), p)
    assert(!p.contains("BuildLeft"), p)
  }

  test("q349: the grain ladder is one composite-key partial agg and a " +
      "3-group rollup — no window, no join") {
    val p = plan("q349_dedup_grain_ladder")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), "the ladder needs no join:\n" + p)
    assert(p.contains("partial_count"), p)
  }

  test("q350: the anchor set broadcasts; the negative top-k window " +
      "partitions on query_id, never global") {
    val p = plan("q350_hard_negatives")
    assert(p.contains("BroadcastHashJoin"),
      "the 10-anchor set must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(query_id#"),
      "per-anchor top-k must partition on query_id:\n" + p)
  }

  test("q351: the exact-top1 scan broadcasts the query set; the " +
      "per-query top-1 window partitions on q_id; no cartesian") {
    val p = plan("q351_ivf_nprobe_planning")
    assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
      "the 10-query set must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(q_id#"),
      "per-query top-1 must partition on q_id:\n" + p)
  }

  test("q352: phash bands shuffle on bucket keys with the cool-bucket " +
      "table broadcast; pair generation is never a nested loop") {
    val p = plan("q352_media_phash_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the bounded cool-bucket table must broadcast:\n" + p)
    assert(p.contains("partial_count"), p)
  }

  test("q353: the eps sweep scores cell-join candidates once — no " +
      "cartesian, threshold explode stays on the pair grain, agg is " +
      "partial+final") {
    val p = plan("q353_semdedup_eps_sweep")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "in-cell pairing must ride the cell equi join:\n" + p)
    assert(p.contains("explode([30,40,50,60,70])"),
      "the 5-way threshold fan-out must be a row-local explode:\n" + p)
    assert(p.contains("partial_count"), p)
  }

  test("q354: incremental semdedup probes the index on the cell equi " +
      "key — old x old never pairs, no nested loop, decision agg is " +
      "keyed on the batch vector") {
    val p = plan("q354_incremental_semdedup")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "batch x index pairing must ride the cell equi join:\n" + p)
    assert(p.contains("LeftOuter") || p.contains("BuildRight"),
      "admitted vectors must survive via the LEFT join:\n" + p)
    assert(p.contains("partial_min"), p)
  }

  test("q355: codebook and LUT broadcast; the two rank windows " +
      "partition per query; no cartesian pair generation") {
    val p = plan("q355_pq_adc_recall")
    assert(p.contains("BroadcastHashJoin"),
      "the codebook/LUT/query sides must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(q_id#"),
      "both rank windows must partition on q_id:\n" + p)
  }

  test("q356: both assignment passes are broadcast row-local argmins " +
      "collapsed by partial agg — no windows, no cartesian on the " +
      "corpus grain") {
    val p = plan("q356_kmeans_churn")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"),
      "argmin must be the min-struct partial agg, not a window:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
      "the 10-row centroid tables must broadcast:\n" + p)
    assert(p.contains("partial_min"), p)
  }

  test("q357: one partial agg to the key grain, 1-row total broadcast, " +
      "top-20 via TakeOrdered — never a global sort") {
    val p = plan("q357_skew_salt_planner")
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 must be TakeOrdered, not Sort+Limit:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q358: the two snapshots diff through one key-keyed full-outer " +
      "sort-merge join and a 4-group partial agg — no window") {
    val p = plan("q358_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      "the diff must be a key-keyed full-outer SMJ:\n" + p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Window"), p)
  }

  test("q359: per-dim stats and the query set broadcast; both rank " +
      "windows partition per query; the pair stage joins on q_id, " +
      "never a cartesian") {
    val p = plan("q359_int8_rank_fidelity")
    assert(p.contains("BroadcastHashJoin"),
      "the 64-row stats / 10-query sides must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(q_id#"),
      "rank windows must partition on q_id:\n" + p)
  }

  test("q360: the bloom bit table is a bounded aggregate and " +
      "broadcasts; probe membership rides a key-keyed join; no " +
      "cartesian") {
    val p = plan("q360_bloom_semijoin_planner")
    assert(p.contains("BroadcastHashJoin"),
      "the bit table must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q361: one QI-grain partial agg, nation rollup joined back " +
      "broadcast — no window, no cartesian") {
    val p = plan("q361_k_anonymity")
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the nation-grain rollup must broadcast back:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q362: key-grain count tables feed 1-row stat aggregates; the " +
      "scalar combines are broadcast 1-row joins, never a data-sized " +
      "product") {
    val p = plan("q362_join_card_estimate")
    assert(p.contains("partial_count"), p)
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q363: all three estimators read the ONE cached partkey count " +
      "table; estimator rows are 1-row aggregates unioned") {
    val p = plan("q363_sampled_card_estimate")
    assert(p.contains("InMemoryTableScan") ||
        p.contains("InMemoryRelation"),
      "the key-grain count table must be cached and reused:\n" + p)
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q364: the corpus aggregates once to the word grain; the " +
      "4-way floor explode runs on the vocabulary grain only") {
    val p = plan("q364_vocab_mincount_sweep")
    assert(p.contains("explode([2,4,8,16])"),
      "the sweep must be a vocab-grain explode:\n" + p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q365: one (fold, lang) partial agg; the lang rollup joins " +
      "back broadcast; no window") {
    val p = plan("q365_kfold_balance")
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the lang-grain rollup must broadcast back:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q366: file stats are a (month, day) partial agg feeding a " +
      "month rollup — two bounded exchanges, no window, no join") {
    val p = plan("q366_compaction_planner")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("q367: each pair is a count-distinct aggregate; rows union; " +
      "no join of data-sized frames") {
    val p = plan("q367_ndv_correlation")
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q368: the arrival-order running max is block-decomposed — " +
      "within-block window partitions on the block key, offsets " +
      "broadcast back, sweep explode is row-local") {
    val p = plan("q368_watermark_planning")
    assert(p.contains("windowspecdefinition(g#"),
      "the prefix max must partition on the 6-hour block:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "block offsets must broadcast back:\n" + p)
    assert(p.contains("explode([60,300,900])"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q369: both retrieval legs ride cell equi joins with the " +
      "10-row query-cell tables broadcast; top-5 windows partition " +
      "per query; no cartesian") {
    val p = plan("q369_refresh_stability")
    assert(p.contains("BroadcastHashJoin"),
      "query-cell tables must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(q_id#"),
      "top-k windows must partition on q_id:\n" + p)
  }

  test("q370: keep-N rides q48's components; the rank window " +
      "partitions per component; singleton count is a left-anti join") {
    val p = plan("q370_cluster_cap_sample")
    assert(p.contains("windowspecdefinition(component#"),
      "keep-N rank must partition per component:\n" + p)
    assert(p.contains("LeftAnti"),
      "singletons must come from an anti join, not a second pass:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q371: verified pairs join the doc->source map on the doc key; " +
      "the rollup is a bounded sources-squared partial agg") {
    val p = plan("q371_copy_matrix")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q372: the rank-sum cumulative rides the q226 block discipline " +
      "(per-block window + broadcast offsets); aggs are partial+final") {
    val p = plan("q372_gate_auc")
    assert(p.contains("BroadcastHashJoin"),
      "the block-offsets table must broadcast:\n" + p)
    assert(p.contains("partial_sum"), p)
    val df = queries.Registry.byName("q372_gate_auc").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .forall(l => l.contains("windowspecdefinition(g#")),
      "every cumsum window must partition on the block key:\n" + optimized)
  }

  test("q373: prefix-inverted self-join is an equi join on the shingle " +
      "key; verify uses the native merge-scan intersect; no cartesian, " +
      "no window") {
    val p = plan("q373_prefix_filter_join")
    assert(p.contains("sorted_intersect_count"),
      "verify must use the fused merge-scan intersect:\n" + p)
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"),
      "per-doc prefix ordering is row-local array sort, not a window:\n" + p)
  }

  test("q374: one parquet scan, three partial+final agg stages, " +
      "no join and no window anywhere") {
    val p = plan("q374_char_diversity_gate")
    // count node-detail headers ("(N) Scan parquet") so the tree echo of
    // the same node isn't double-counted
    assert(p.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*""")) == 1, p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("q375: both passes broadcast the bounded side against one linear " +
      "scan; top-k windows partition per query and push the rank limit") {
    val p = plan("q375_mutual_knn_pairs")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must push into WindowGroupLimit, not post-filter:\n" + p)
    val df = queries.Registry.byName("q375_mutual_knn_pairs")
      .run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val specs = optimized.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(specs.exists(_.contains("windowspecdefinition(q_id#"))
      && specs.exists(_.contains("windowspecdefinition(b_id#")),
      "per-query windows must partition on q_id/b_id:\n"
        + specs.mkString("\n"))
  }

  test("q376: audited queries broadcast against the corpus scan; label " +
      "lookups broadcast the tiny top-k frame; consensus agg is " +
      "partial+final") {
    val p = plan("q376_label_consensus")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q378: audio fingerprint candidates are band-bounded — the cool-" +
      "bucket filter broadcasts (bounded by the 15-bit key space) and " +
      "no cartesian/BNL pair join appears") {
    val p = plan("q378_audio_fingerprint_dedup")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q379: three grains ride ONE chunk frame — a single documents " +
      "scan feeds the (k, fp) aggregation, no window, no cartesian") {
    val p = plan("q379_dup_mass_curve")
    assert(p.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*""")) == 1,
      "the k-ladder must explode from one scan, not three jobs:\n" + p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("q380: the trie rebalance is agg-join-agg on (depth, cell) keys — " +
      "partial+final aggs, the only BNL is the broadcast 1-row total") {
    val p = plan("q380_ivf_cell_rebalance")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // bounded-scalar broadcast NLJs only: the 1-row corpus total, plus
    // the adaptive depth ceiling's 1-row count (round 14 — it joins
    // before the lv/occ split, so it surfaces as a distinct node in
    // EACH of lv's two consumer branches); anything else joining
    // without keys is a regression (count node-detail headers, not the
    // tree echo of the same node)
    assert(p.linesIterator.count(
      _.matches("""\(\d+\) BroadcastNestedLoopJoin\s*""")) <= 3, p)
    // the occupancy table is bounded by the level keyspace
    // (sum(2^d, d=4..12) ~ 8k rows at ANY corpus size), so the join back
    // may legitimately broadcast it; it must still be an equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      "the level->occupancy join back must be an equi-join:\n" + p)
  }

  test("q381: both retrieval legs broadcast the bounded query set " +
      "against one corpus scan; top-k windows partition per query and " +
      "push the rank limit") {
    val p = plan("q381_crossmodal_recall")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must push into WindowGroupLimit, not post-filter:\n" + p)
    val df = queries.Registry.byName("q381_crossmodal_recall")
      .run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .forall(_.contains("windowspecdefinition(q_id#")),
      "per-query windows must partition on q_id:\n" + optimized)
  }

  test("q382: the dedup ladder keeps every stage's standalone shape — " +
      "all joins keyed (no cartesian; the only BNL is stage 4's 1-row " +
      "survivor-count broadcast — q380's scalar pattern), dedup windows " +
      "partition on their fingerprint keys, only the 5-row stage lag " +
      "is global") {
    val p = plan("q382_dedup_ladder")
    assert(!p.contains("CartesianProduct"), p)
    // stage 4's adaptive cell grain joins ONE broadcast 1-row scalar
    // (the survivor count that sets k) — count node-detail headers,
    // not the tree echo of the same cached node (q380's convention)
    assert(p.linesIterator.count(
      _.matches("""\(\d+\) BroadcastNestedLoopJoin\s*""")) <= 1, p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"),
      "survivor handoffs should broadcast the shrinking id sets:\n" + p)
    val df = queries.Registry.byName("q382_dedup_ladder").run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    // a global (partition-less) spec leads with an ORDER item (ASC/DESC
    // before the first comma); a partitioned one leads with bare columns
    val globals = optimized.linesIterator
      .filter(_.contains("windowspecdefinition("))
      .count { l =>
        val head = l.substring(l.indexOf("windowspecdefinition(") + 21)
          .takeWhile(_ != ',')
        head.contains(" ASC") || head.contains(" DESC")
      }
    assert(globals <= 1,
      s"only the 5-row stage ladder may use a global window " +
        s"($globals found):\n" + optimized)
  }

  test("q383: every triage gate probes the corpus through an equi key " +
      "(fingerprint, chunk-fp, band, cell) — no cartesian/BNL, and the " +
      "final assembly is left equi-joins on doc_id") {
    val p = plan("q383_ladder_triage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    // triage output is per-doc; no window anywhere (no global sorts)
    assert(!p.contains(") Window"), "triage needs no window:\n" + p)
  }

  test("q384: span runs form from two keyed windows (chunk-fp rank, " +
      "per-doc islands) — no global window, no cartesian") {
    val p = plan("q384_longest_dup_span")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val df = queries.Registry.byName("q384_longest_dup_span")
      .run(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    val globals = optimized.linesIterator
      .filter(_.contains("windowspecdefinition("))
      .count { l =>
        val head = l.substring(l.indexOf("windowspecdefinition(") + 21)
          .takeWhile(_ != ',')
        head.contains(" ASC") || head.contains(" DESC")
      }
    assert(globals == 0, s"every window must partition on fp or doc_id " +
      s"($globals global):\n" + optimized)
  }

  test("q387: the pair join runs over df-capped prints only (the cap " +
      "filter precedes the self-join) — keyed joins, no cartesian, " +
      "no window") {
    val p = plan("q387_winnowing_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q386: the MMR greedy unrolls as K bounded stages — per-stage " +
      "argmax is a max-struct aggregate (no window), and each stage is " +
      "cut with localCheckpoint so the final plan is a bounded union " +
      "of 10-row stage results") {
    val p = plan("q386_mmr_select")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"),
      "per-query argmax must be an aggregate, not a window:\n" + p)
    // the stages are pre-executed behind localCheckpoint (the q261
    // discipline — without the cut the plan held ~3^K copies of stage
    // 1 and ran 23 s instead of 3.5 s), so the registry-visible plan
    // must be exactly one materialized 50-row stage-union RDD — any
    // reappearing join/agg would mean the cut regressed
    assert(p.linesIterator.count(
      _.matches("""\(\d+\) Scan ExistingRDD.*""")) == 1,
      "expected the single checkpointed stage union:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("q377: the predicate pushes through the Union into all three " +
      "format legs, and the parquet leg carries PushedFilters") {
    val p = plan("q377_federated_union_scan")
    assert(p.contains("Union"), p)
    Seq("Scan parquet", "Scan csv", "Scan json").foreach { leg =>
      assert(p.linesIterator.count(
        _.matches(s"""\\(\\d+\\) $leg\\s*""")) == 1, s"$leg:\n" + p)
    }
    assert(p.contains("GreaterThanOrEqual(o_totalprice,1000.0)"),
      "the filter must reach the parquet scan as a pushed filter:\n" + p)
  }
}
