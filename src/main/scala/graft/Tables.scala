package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver testdata tables (TESTDATA.md / FIXTURES.md §3).
  *
  * The reference reads vendor parquet with a fully inferred schema
  * (reference src/glue_scripts/bronze_to_silver.py:44-45); we keep
  * infer-on-read here (parquet footers are authoritative for these
  * fixtures) and reserve explicit cast-on-read schemas for the taxi-trips
  * ingest path (see [[graft.pipeline.TaxiSchema]]), where vendor type drift
  * makes inference unsafe.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Tables whose rows carry high CPU cost per byte downstream (text
    * tokenization + md5 shingling; embedding quantization + plane
    * projections). Their fixture files are single-row-group parquet, so
    * the scan plans ONE task and every derived pipeline — including
    * frames cached off it, which inherit the partitioning — runs
    * single-threaded while the other cores idle (measured: the 5k-doc
    * shingle build is a ~900 ms 1-task stage; 16 minhash transforms off
    * the cached shingles another ~450 ms 1-task, per join side).
    */
  private val cpuDense = Set("documents", "embeddings")

  /** Scale-adaptive parallelism floor (guide §2.5/§6): when a scan plans
    * fewer partitions than the session's parallelism, fan it out before
    * the expression-dense work; when the scan is already wide (any real
    * corpus at cluster scale — thousands of splits), this is a no-op, so
    * nothing is re-shuffled at 100 TB. Row-to-partition assignment is
    * deterministic (sort-before-repartition is on by default) and every
    * query is partition-order-independent by design, so results are
    * unchanged.
    */
  private def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df0 = spark.read.parquet(path(sfDir, name))
    val df = if (cpuDense(name)) widen(df0) else df0
    // events.ts is parquet INT64 TIMESTAMP(NANOS): illegal for Spark's
    // reader, so it arrives as a long (spark.sql.legacy.parquet.nanosAsLong)
    // and is converted here to TIMESTAMP_NTZ — the type every other fixture
    // timestamp infers to (inferTimestampNTZ), and the one that compares
    // 1:1 with DuckDB's naive TIMESTAMP. Sub-µs components are zero in the
    // fixture, so DIV 1000 is lossless.
    if (name == "events" && df.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
    else df
  }

  /** Register every table as a temp view named after the table, so queries
    * can be written against `spark.sql` as well as the DataFrame API.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
