package graft.queries

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Sink-side operator surface exercised through the oracle gate: the
  * hive-partitioned parquet write (the reference's only sink,
  * reference src/glue_scripts/bronze_to_silver.py:84-85) followed by a
  * partition-pruned read — the consumer-side benefit the reference's
  * `partitionBy("payment_type")` exists to provide.
  *
  * The oracle never sees the intermediate files: it recomputes the same
  * aggregate straight from the source table, so the check proves the
  * write→read round-trip is lossless (values, types, timestamps) and the
  * partition filter selects exactly the right rows.
  */
object PipelineQueries {

  val all: Seq[QuerySpec] = Seq(
    QuerySpec(
      "q50_partitioned_sink_roundtrip",
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          ${sqlDsum("l_extendedprice")} AS total_price,
          CAST(max(l_shipdate) AS TIMESTAMP) AS max_ship
        FROM lineitem WHERE l_orderkey % 4 = 0 AND l_returnflag = 'R'
        GROUP BY l_returnflag, l_linestatus"""),
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft-sink")
        // A quarter of the table exercises the same layout (all partition
        // values present) at a quarter of the sink IO.
        Tables.load(s, d, "lineitem")
          .filter(col("l_orderkey") % 4 === 0)
          .write.mode("overwrite")
          .partitionBy("l_returnflag")
          .parquet(out)
        // Partition-pruned read-back: only the l_returnflag=R directory is
        // scanned (PruneFileSourcePartitions; verify with .explain).
        s.read.parquet(out)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("total_price"),
            max(col("l_shipdate")).as("max_ship"))
      }),

    // ---- gold layer: the full silver → gold build, differential-checked ----
    // Runs the REAL Gold.buildRevenueSummary path (rollup through the
    // Exact decimal grid → partitioned gold write → read-back) over a
    // silver table derived deterministically from lineitem (the taxi
    // column names the Gold rollup expects, driver data underneath). The
    // oracle recomputes the same ROLLUP straight from lineitem, so the
    // check covers the rollup math AND the gold write→read round-trip —
    // including the NULL-partition directory the rollup's subtotal rows
    // land in.
    QuerySpec(
      "q56_gold_revenue",
      Some(s"""WITH silver AS (
          SELECT CAST(ASCII(l_returnflag) AS BIGINT) AS payment_type,
            strftime(l_shipdate, '%Y-%m') AS month,
            l_extendedprice AS fare_amount, l_tax AS tip_amount,
            l_quantity AS trip_distance
          FROM lineitem WHERE l_orderkey % 4 = 0)
        SELECT payment_type, month, COUNT(*) AS n_trips,
          ${sqlDsum("fare_amount")} AS total_fare,
          ${sqlDsum("tip_amount")} AS total_tips,
          ${sqlDavg("trip_distance")} AS avg_distance
        FROM silver GROUP BY ROLLUP(payment_type, month)"""),
      (s: SparkSession, d: String) => {
        val root = graft.TempDirs.create("graft-gold")
        val cat = graft.pipeline.ZoneCatalog(root)
        // A quarter of the table exercises the full build (all rollup
        // groups present) at a quarter of the two-write round-trip IO —
        // same trade q50 makes. Gold reads silver with its owned schema
        // (Promote.silverSchema), so the columns take its types: the
        // return flag's code point stands in for the BIGINT payment_type.
        Tables.load(s, d, "lineitem")
          .filter(col("l_orderkey") % 4 === 0)
          .select(
            col("l_shipdate").cast("timestamp").as("tpep_pickup_datetime"),
            ascii(col("l_returnflag")).cast("long").as("payment_type"),
            col("l_extendedprice").as("fare_amount"),
            col("l_tax").as("tip_amount"),
            col("l_quantity").as("trip_distance"))
          .write.mode("overwrite").parquet(cat.silverCleaned)
        new graft.pipeline.Gold(s, cat).buildRevenueSummary()
          .select(col("payment_type"), col("month"), col("n_trips"),
            col("total_fare"), col("total_tips"), col("avg_distance"))
      }),

    // ---- bucketed-layout co-located join ------------------------------------
    // The one-time layout trade that dominates repeatedly-joined 100 TB
    // facts: both sides bucket+sort on the join key at REST
    // (operators.Layout.writeBucketed), so the join needs NO Exchange —
    // the shuffle was paid once at write time (LayoutSpec asserts the
    // exchange-free plan; PlanSpec asserts it for this query shape). The
    // oracle recomputes the join straight from the raw tables, proving
    // the bucketed write→read→join round-trip is lossless. The `merge`
    // hint pins SMJ so the check exercises the bucketed-SMJ path rather
    // than a size-based broadcast that exists only at test SF.
    QuerySpec(
      "q184_bucketed_join",
      Some(s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          ${sqlDsum("o_totalprice")} AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment"""),
      (s: SparkSession, d: String) => {
        // Unique table names per invocation: suites run in parallel and
        // the session catalog is JVM-global.
        val tag = java.lang.Long.toHexString(System.nanoTime())
        val to = s"graft_q184_orders_$tag"
        val tc = s"graft_q184_customer_$tag"
        graft.operators.Layout.writeBucketed(
          Tables.load(s, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice")),
          to, "o_custkey", 8)
        graft.operators.Layout.writeBucketed(
          Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          tc, "c_custkey", 8)
        // the managed tables' files go at JVM exit, like any scratch dir
        val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir"))
        Seq(to, tc).foreach(n =>
          graft.TempDirs.deleteOnExit(new java.io.File(wh.getPath, n)))
        s.table(to)
          .join(s.table(tc).hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
      })
  )
}
