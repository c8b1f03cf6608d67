package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Canonical schema for the TLC Yellow Taxi trips table.
  *
  * The reference infers the schema from parquet footers
  * (reference src/glue_scripts/bronze_to_silver.py:44-45), which breaks on
  * multi-file reads because TLC month files drift types across vintages
  * (`passenger_count` int↔double etc. — SURVEY §1.2). Here every bronze
  * file is read with its own footer schema and *cast* onto this canonical
  * StructType, then unioned by name — the contract the silver zone
  * guarantees its readers.
  */
object TaxiSchema {

  val schema: StructType = StructType(Seq(
    StructField("VendorID", IntegerType),
    StructField("tpep_pickup_datetime", TimestampType),
    StructField("tpep_dropoff_datetime", TimestampType),
    StructField("passenger_count", LongType),
    StructField("trip_distance", DoubleType),
    StructField("RatecodeID", LongType),
    StructField("store_and_fwd_flag", StringType),
    StructField("PULocationID", IntegerType),
    StructField("DOLocationID", IntegerType),
    StructField("payment_type", LongType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("congestion_surcharge", DoubleType),
    StructField("airport_fee", DoubleType)))

  /** Cast one file's inferred frame onto the canonical schema; columns the
    * file lacks come back as typed nulls (union-by-name friendly).
    */
  def normalize(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val cols = schema.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Group paths by their footer schema: files sharing a schema read as
    * ONE multi-path scan, so the union plan is O(distinct schemas) — a
    * handful across TLC vintages — instead of O(files). The per-file
    * footer probe runs one Spark job per file (the same footers the scan
    * needs anyway); a driver-side footer read would make it job-free.
    */
  private def groupBySchema(spark: SparkSession,
      paths: Seq[String]): Seq[(StructType, Seq[String])] =
    paths.groupBy(p => spark.read.parquet(p).schema).toSeq

  /** Multi-file scan with cast-on-read: per-schema-group scan + normalize
    * + union-by-name, every row tagged with a deterministic id of its
    * source file — the per-file partition key the promote commit protocol
    * overwrites by. Each group is read with the schema its probe already
    * found, so no group pays a second schema-inference job.
    * `input_file_name()` is stable per file across reruns, which is all
    * the overwrite-by-src_id protocol needs.
    */
  def readTagged(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{input_file_name, md5}
    groupBySchema(spark, paths)
      .map { case (s, g) => normalize(spark.read.schema(s).parquet(g: _*))
        .withColumn("src_id", md5(input_file_name())) }
      .reduce(_.unionByName(_))
  }
}
