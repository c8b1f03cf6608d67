package graft.streaming

import graft.pipeline.{Promote, ZoneCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming bronze→silver: the idiomatic Spark replacement for the
  * reference's whole event plumbing (CloudTrail trail + EventBridge rule +
  * Glue EVENT trigger + per-file tags, reference terraform/main.tf:524-568,
  * src/lambda_functions/s3_operations.py:13-38).
  *
  * The file source's checkpoint IS the processed-file ledger — each file is
  * processed exactly once across restarts with no tag RPCs and no
  * write-vs-mark crash window (the §3.2 hazard disappears: offsets commit
  * atomically with the sink's transaction log).
  *
  * `Trigger.AvailableNow` = the reference's batched EVENT trigger (drain
  * everything pending, then stop); a processing-time trigger would be the
  * long-running daemon form.
  *
  * Schema note: a streaming file source reads with ONE declared schema —
  * per-file cast-on-read is a batch-only capability. Bronze vintages whose
  * physical types drift from [[graft.pipeline.TaxiSchema.schema]] (e.g.
  * passenger_count stored as double) must go through the batch path
  * (`Promote`), or be normalized at ingest, before this stream sees them.
  */
final class StreamingPromote(
    spark: SparkSession,
    catalog: ZoneCatalog,
    checkpoint: String) {

  def silverTable: String = s"${catalog.silver}/cleaned_stream"

  private def cleanedStream(maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream
      .schema(graft.pipeline.TaxiSchema.schema)
    val withOpts = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
    Promote.clean(withOpts.parquet(catalog.bronzeTaxi))
  }

  private def start(df: DataFrame, trigger: Trigger): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", silverTable)
      .option("checkpointLocation", checkpoint)
      .partitionBy("payment_type")
      .trigger(trigger)
      .start()

  /** Drain all pending bronze files into silver, exactly once. */
  def runAvailableNow(maxFilesPerTrigger: Option[Int] = None): Unit =
    start(cleanedStream(maxFilesPerTrigger), Trigger.AvailableNow())
      .awaitTermination()

  /** The long-running daemon form: micro-batches on a processing-time
    * interval, each batch bounded to `maxFilesPerTrigger` files — the two
    * rate/backpressure knobs of the reference's batched EVENT trigger
    * (batch_window + batch_size, reference terraform/main.tf:556-559).
    * Returns the running query; the caller owns its lifecycle.
    */
  def runMicroBatch(interval: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    start(cleanedStream(maxFilesPerTrigger), Trigger.ProcessingTime(interval))
}
