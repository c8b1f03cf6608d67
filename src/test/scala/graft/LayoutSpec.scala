package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Layout operators: bucketed joins must eliminate the shuffle entirely
  * (asserted on the physical plan), salted joins must be result-identical
  * to plain joins while spreading hot keys.
  */
class LayoutSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("bucketed tables join with no Exchange in the plan") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      Layout.writeBucketed(orders.withColumnRenamed("o_orderkey", "key"),
        "b_orders", "key", 8)
      Layout.writeBucketed(lineitem.withColumnRenamed("l_orderkey", "key"),
        "b_lineitem", "key", 8)

      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "same-bucket equi-join must be shuffle-free:\n" + plan)

      // and the result matches the plain (shuffled) join
      val expected = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L << 20).toString)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("serving corpus written partitioned by cell: a probe-cell read " +
      "prunes partitions at the SOURCE — the q400/q401 100 TB read " +
      "path, where the probe join IS partition pruning") {
    // Lay the corpus out at rest the way the serving-IVF plan states:
    // one parquet partition per coarse cell. A top-nprobe read must
    // then touch ONLY the probed cells' files — proven on the scan
    // node's partition count, not just the plan string.
    val dir = TempDirs.create("t_cell_layout")
    import spark.implicits._
    val cells = 16
    (0L until 4096L).map(i => (i, (i % cells).toInt))
      .toDF("vec_id", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val probed = Seq(3, 5, 11)
    val rd = spark.read.parquet(dir)
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
    val scan = rd.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in the plan"))
    assert(scan.partitionFilters.nonEmpty,
      "the cell predicate must reach the scan as a PARTITION filter:\n" +
        scan.toString)
    // behavioral proof: the scan materializes only the probed cells'
    // partition directories (execute THIS scan instance so its metrics
    // are the ones populated — count() would build a fresh plan tree)
    val scanned =
      if (scan.supportsColumnar)
        scan.executeColumnar().map(_.numRows().toLong).sum().toLong
      else scan.execute().count()
    assert(scanned == probed.size * (4096L / cells))
    assert(scan.metrics("numPartitions").value == probed.size.toLong,
      s"scan read ${scan.metrics("numPartitions").value} partitions, " +
        s"expected ${probed.size} — pruning failed")
    assert(rd.count() == probed.size * (4096L / cells))
    // and the data-skipping direction too: a non-partition predicate
    // must NOT appear in partitionFilters (it belongs to dataFilters)
    val mixed = spark.read.parquet(dir)
      .filter(col("cell") === 3 && col("vec_id") < 100L)
    val mscan = mixed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(mscan.dataFilters.exists(_.toString.contains("vec_id")),
      "row predicate must stay a data filter (pushed to parquet)")
  }

  test("sortWithinPartitions orders locally without a shuffle") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .repartition(4, col("l_returnflag"))
    val sorted = li.sortWithinPartitions(col("l_extendedprice"))
    assert(!sorted.queryExecution.executedPlan.toString.contains("Exchange rangepartitioning"),
      "local sort must not add a range-shuffle")
    assert(sorted.rdd.getNumPartitions == 4)
    // each partition is internally ordered
    val ok = sorted.select("l_extendedprice").rdd
      .mapPartitions { it =>
        val xs = it.map(_.getDouble(0)).toSeq
        Iterator(xs == xs.sorted)
      }.collect()
    assert(ok.forall(identity))
  }

  test("repartitionByRange produces range-disjoint partitions") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .repartitionByRange(4, col("l_extendedprice"))
    val ranges = li.select("l_extendedprice").rdd
      .mapPartitionsWithIndex { (i, it) =>
        val xs = it.map(_.getDouble(0)).toSeq
        if (xs.isEmpty) Iterator.empty
        else Iterator((i, xs.min, xs.max))
      }.collect().sortBy(_._1)
    assert(ranges.nonEmpty)
    // partition i's max <= partition i+1's min
    assert(ranges.sliding(2).forall {
      case Array((_, _, hi), (_, lo, _)) => hi <= lo
      case _ => true
    })
  }

  test("AQE splits the skewed partition on a q04-shaped shuffle join") {
    // One hot key owns ~80% of the big side — the runtime-mitigation
    // counterpart to the salted path below: AQE must detect the oversized
    // shuffle partition and split it across tasks (skew=true in the final
    // plan), with thresholds lowered to make fixture-sized skew visible.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val big = spark.range(200000).select(
        when(col("id") < 160000, 0L).otherwise(col("id") % 100).as("k"),
        (col("id") * 37).as("payload"))
      // Unique keys on the probe side keep the output row count equal to
      // the big side (pure enrich, no multiplicity).
      val dim = spark.range(100).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name"))
      val joined = big.join(dim, "k")
      // collect() drives THIS DataFrame's own query execution, so AQE
      // finalizes the plan we inspect (count() would plan a clone).
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE must mark the join skew-handled in the final plan:\n" + plan)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 90% of the big side hits one key — the classic skew shape.
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) i % 7 else 1L, i.toLong)).toDF("key", "payload")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"),
      (4L, "e"), (5L, "f"), (6L, "g")).toDF("key", "name")

    val plain = big.join(small, "key")
    val salted = Layout.saltedJoin(big, small, "key", "payload", 8)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "payload", "name").collect()
        .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(canon(salted) == canon(plain))

    // the hot key's rows really do spread across salt values
    val spread = big.withColumn("__salt",
        pmod(hash(col("payload")), lit(8)))
      .filter(col("key") === 1L)
      .select("__salt").distinct().count()
    assert(spread > 1, "hot key must occupy multiple salt partitions")
  }
}
