package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Bronze→silver promotion: the reference's Glue job
  * (reference src/glue_scripts/bronze_to_silver.py:30-47,84-89) rebuilt
  * with exactly-once semantics.
  *
  * The reference appends to silver and only afterwards tags each input file
  * Processed; a crash between the write (line 85) and the tagging (line 89)
  * reprocesses every file next trigger and appends duplicates (SURVEY §3.2).
  * Here every row is written under a *deterministic per-file partition*
  * (`src_id` = md5 of the source file path) with dynamic partition
  * overwrite: reprocessing a file overwrites exactly that file's
  * partitions, so write→crash→rerun converges to exactly-once output
  * regardless of where the ledger commit landed — even when the retry
  * batch contains a different file set than the crashed run (a batch-level
  * id would orphan the crashed batch's partitions in that case).
  *
  * Scale posture: the driver holds the *file listing* and the ledger
  * (bounded by file count, as in any table-format commit protocol — never
  * row data) and diffs them without a Spark job; the write is a straight
  * scan→filter→partitioned-write with no shuffle beyond the partitioning
  * of the sink.
  */
final class Promote(
    spark: SparkSession,
    catalog: ZoneCatalog,
    log: ProcessedLog,
    notifier: Notify = Notify.Logging) {

  def silverTable: String = catalog.silverCleaned

  /** List bronze parquet files (Hadoop FS — works for file:// and s3a://;
    * full URIs are preserved so object-store paths resolve correctly).
    * In-flight copies (`_tmp-…`, see [[Ingest.ingestFile]]) and hidden
    * files are skipped.
    */
  def listBronze(): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(catalog.bronzeTaxi)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (LedgerFiles.committed(f.getPath.getName))
        buf += f.getPath.toString
    }
    buf.toSeq.sorted
  }

  /** One promote cycle. Returns the files processed this run. */
  def run(): Seq[String] = {
    val todo = log.unprocessed(listBronze())
    if (todo.isEmpty) return Seq.empty

    try {
      val cleaned = Promote.clean(TaxiSchema.readTagged(spark, todo))
      cleaned
        .write
        .mode(SaveMode.Overwrite)
        // Writer-level, NOT session-level: with a default-configured session
        // (partitionOverwriteMode=static), Overwrite+partitionBy would
        // truncate the whole silver table on an incremental run. Pinning the
        // option here makes the class safe under any SparkSession.
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("src_id", "payment_type")
        .parquet(silverTable)
      // Ledger commit AFTER the (idempotent) write: a crash before this
      // line just reruns per-file overwrites next cycle.
      log.mark(todo, ProcessedLog.Processed)
    } catch {
      case e: Exception =>
        // The write's error is what surfaces: a failing Failed-mark or
        // alert rides along as suppressed, and one does not stop the other.
        def attempt(f: => Unit): Unit =
          try f catch { case e2: Exception => e.addSuppressed(e2) }
        attempt(log.mark(todo, ProcessedLog.Failed, Option(e.getMessage)))
        attempt(notifier.error("promote", s"promote failed: ${e.getMessage}"))
        throw e
    }
    // Outside the try: the files are committed, so a failing notifier
    // must not mark them Failed.
    notifier.info("promote", s"${todo.size} file(s) promoted")
    todo
  }

  def readSilver(): DataFrame =
    spark.read.schema(Promote.silverSchema).parquet(silverTable)
}

object Promote {

  /** The silver table's schema, owned here rather than inferred from its
    * files: the canonical trip columns plus the `src_id` commit partition.
    */
  val silverSchema: StructType = TaxiSchema.schema.add("src_id", StringType)

  /** The realized cleaning transform (the reference leaves a placeholder at
    * bronze_to_silver.py:46): canonical-typed rows with valid fares, real
    * trip durations, and a present partition key. The batch and the
    * streaming promote both apply it.
    */
  def clean(df: DataFrame): DataFrame =
    df.filter(col("payment_type").isNotNull
        && col("fare_amount") >= 0
        && col("tpep_pickup_datetime") < col("tpep_dropoff_datetime"))
}

/** Best-effort notification sink — the reference's SNS publish swallows
  * errors (fetch_raw_data.py:97-111); ours is an interface with a logging
  * default so tests can capture messages.
  */
trait Notify {
  def info(subject: String, message: String): Unit
  def error(subject: String, message: String): Unit
}

object Notify {
  object Logging extends Notify {
    private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline")
    def info(subject: String, message: String): Unit =
      log.info(s"[$subject] $message")
    def error(subject: String, message: String): Unit =
      log.error(s"[$subject] $message")
  }
}
