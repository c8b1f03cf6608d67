package graft.queries

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV/JSON source+sink coverage (SURVEY §2.B "Scans/sources" [absent] rows)
  * via the round-trip pattern: write the fixture out in the text format,
  * read it back with an explicit schema, aggregate — the oracle recomputes
  * from the source table, so the check proves the format round-trip is
  * lossless for the projected columns.
  */
object Sources {

  /** Fixed scratch dir per (JVM, dataset dir, query tag): repeated
    * verify/bench runs within a session (median-of-3) reuse the same
    * path, so overwrite-mode writes reclaim the space instead of
    * accumulating one fresh temp dir per execution. The pid segment
    * keeps CONCURRENT processes (a bench and a verify on the same
    * sfDir) from racing on one directory; the sfDir hash keeps scale
    * factors apart within a session. Each (process, sfDir) dir is
    * deleted at JVM exit.
    */
  private def scratch(d: String, tag: String): String = {
    val key = java.lang.Integer.toHexString(d.hashCode)
    val pid = ProcessHandle.current().pid()
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-scratch-pid$pid-$key", tag)
    java.nio.file.Files.createDirectories(p)
    graft.TempDirs.deleteOnExit(p.getParent.toFile)
    p.toString
  }

  val all: Seq[QuerySpec] = Seq(

    // ---- CSV sink + schema'd CSV scan --------------------------------------
    QuerySpec(
      "q51_csv_roundtrip",
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
          ${sqlDsum("o_totalprice")} AS total,
          MAX(CAST(o_orderdate AS DATE)) AS max_day
        FROM orders GROUP BY o_orderstatus"""),
      (s: SparkSession, d: String) => {
        val out = scratch(d, "csv")
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate").cast("date").as("o_day"))
          .write.mode("overwrite").option("header", "true").csv(out)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_day", DateType)))
        s.read.option("header", "true").schema(schema).csv(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total"),
            max(col("o_day")).as("max_day"))
      }),

    // ---- JSON sink + schema'd JSON scan + from_json ------------------------
    // Also exercises structured JSON parsing (from_json with a declared
    // schema) rather than per-path extraction (q22's get_json_object).
    QuerySpec(
      "q52_json_roundtrip",
      Some("""SELECT event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k
        FROM events GROUP BY event_type"""),
      (s: SparkSession, d: String) => {
        val out = scratch(d, "json")
        Tables.load(s, d, "events")
          .select(col("event_id"), col("event_type"),
            from_json(col("props"), StructType(Seq(
              StructField("k", LongType)))).getField("k").as("k"))
          .write.mode("overwrite").json(out)
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("k", LongType)))
        s.read.schema(schema).json(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      }),

    // ---- multi-file parquet scan (reference op #1) -------------------------
    // The reference's only real data-plane operator: N bronze files read as
    // one frame (spark.read.parquet(paths: _*), reference
    // src/glue_scripts/bronze_to_silver.py:44-45). Split the fixture three
    // ways, scan the splits as one table, and prove the union is lossless
    // against the unsplit source.
    QuerySpec(
      "q54_multifile_scan",
      Some(s"""SELECT l_linestatus, COUNT(*) AS n,
          ${sqlDsum("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY l_linestatus"""),
      (s: SparkSession, d: String) => {
        val base = scratch(d, "multi")
        val li = Tables.load(s, d, "lineitem")
        val paths = (0 until 3).map { i =>
          val p = s"$base/part$i"
          li.filter(col("l_orderkey") % 3 === i)
            .write.mode("overwrite").parquet(p)
          p
        }
        s.read.parquet(paths: _*)
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      }),

    // ---- ORC sink + schema'd ORC scan --------------------------------------
    // The columnar-format sibling of q51's CSV round-trip: ORC is the
    // other table format a lakehouse migration encounters (Hive
    // heritage); Spark's writer/reader are built in. The aggregate
    // after read-back proves type-preserving round-trip for long /
    // string / double columns; the oracle recomputes from parquet.
    QuerySpec(
      "q267_orc_roundtrip",
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
            AS sum_qty,
          ${sqlDsum("l_extendedprice")} AS total
        FROM lineitem GROUP BY l_returnflag"""),
      (s: SparkSession, d: String) => {
        val out = scratch(d, "orc")
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            round(col("l_quantity"), 0).cast("long").as("qty"),
            col("l_extendedprice"))
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("qty")).cast("long").as("sum_qty"),
            dsum(col("l_extendedprice")).as("total"))
      }),

    // ---- text sink + line-oriented text scan -------------------------------
    // The lowest-common-denominator interchange: one tab-separated line
    // per document through `spark.read.text` (the raw-crawl entry
    // format), re-parsed with split(). The fixture's texts carry no
    // tabs/newlines (verified), so the round-trip is lossless and the
    // per-language char totals must match the parquet recomputation.
    QuerySpec(
      "q268_text_roundtrip",
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang"""),
      (s: SparkSession, d: String) => {
        val out = scratch(d, "text")
        Tables.load(s, d, "documents")
          .select(concat_ws("\t", col("doc_id"), col("lang"), col("text"))
            .as("value"))
          .write.mode("overwrite").text(out)
        s.read.text(out)
          .select(split(col("value"), "\t", 3).as("f"))
          .select(col("f").getItem(1).as("lang"),
            col("f").getItem(2).as("text"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("text")).cast("long")).cast("long").as("n_chars"))
      }),

    // ---- dynamic partition pruning through a dim join ----------------------
    // The partition-layout payoff at 100 TB: a fact partitioned on the
    // join key is pruned at RUNTIME by the dim side's filter (Spark DPP
    // — the dim filter's values flow into the fact scan's
    // PartitionFilters before any fact bytes are read). The fixture
    // writes lineitem partitioned on l_suppkey % 25 and joins nation
    // filtered to one name: only 1 of 25 partitions is scanned.
    // PlanSpec asserts the dynamicpruning expression; the oracle
    // recomputes the filtered join from the raw table.
    QuerySpec(
      "q271_dpp_prune",
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
            AS sum_qty
        FROM lineitem JOIN nation ON l_suppkey % 25 = n_nationkey
        WHERE n_name = 'FRANCE'"""),
      (s: SparkSession, d: String) => {
        val out = scratch(d, "dpp")
        Tables.load(s, d, "lineitem")
          .select((col("l_suppkey") % 25).as("nk"),
            round(col("l_quantity"), 0).cast("long").as("qty"))
          .write.mode("overwrite").partitionBy("nk").parquet(out)
        val dim = Tables.load(s, d, "nation")
          .filter(col("n_name") === "FRANCE")
          .select(col("n_nationkey"))
        s.read.parquet(out)
          .join(dim, col("nk") === col("n_nationkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("qty")).cast("long").as("sum_qty"))
      }),

    // ---- federated scan over heterogeneous formats -------------------------
    // The migration-in-flight shape every lakehouse passes through: ONE
    // logical table whose shards live in THREE different formats
    // (parquet + CSV + JSON), scanned as a single unionByName frame with
    // the filter applied AFTER the union — so the check proves (a) the
    // per-format round-trips agree on values, and (b) Catalyst pushes
    // the predicate through the Union into each leg's scan (parquet gets
    // PushedFilters; the text legs at least prune columns) instead of
    // filtering post-union. The oracle recomputes from the parquet
    // source with the shard assignment as a CASE — any format-specific
    // value drift (CSV float text, JSON date strings) breaks the hash.
    // 100 TB plan: three independent scans, one shuffle for the final
    // partial agg; the union is plan-level only (no materialization).
    QuerySpec(
      "q377_federated_union_scan",
      Some(s"""SELECT CASE o_orderkey % 3 WHEN 0 THEN 'parquet'
            WHEN 1 THEN 'csv' ELSE 'json' END AS fmt,
          o_orderstatus, COUNT(*) AS n,
          ${sqlDsum("o_totalprice")} AS total
        FROM orders WHERE o_totalprice >= 1000
        GROUP BY 1, 2"""),
      (s: SparkSession, d: String) => {
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        val pqDir = scratch(d, "fed_pq")
        val csvDir = scratch(d, "fed_csv")
        val jsDir = scratch(d, "fed_js")
        o.filter(col("o_orderkey") % 3 === 0)
          .write.mode("overwrite").parquet(pqDir)
        o.filter(col("o_orderkey") % 3 === 1)
          .write.mode("overwrite").option("header", "true").csv(csvDir)
        o.filter(col("o_orderkey") % 3 === 2)
          .write.mode("overwrite").json(jsDir)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType)))
        val legs = Seq(
          s.read.parquet(pqDir).withColumn("fmt", lit("parquet")),
          s.read.option("header", "true").schema(schema).csv(csvDir)
            .withColumn("fmt", lit("csv")),
          s.read.schema(schema).json(jsDir).withColumn("fmt", lit("json")))
        legs.reduce(_.unionByName(_))
          .filter(col("o_totalprice") >= 1000)
          .groupBy(col("fmt"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      })
  )
}
