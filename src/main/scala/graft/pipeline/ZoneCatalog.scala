package graft.pipeline

/** Medallion-zone path catalog.
  *
  * Mirrors the reference's bucket layout — bronze, `${bronze}-silver`,
  * `${bronze}-gold` (reference terraform/main.tf:4-8,357-365) and its key
  * layouts: bronze `nyc_taxi/yellow_taxi_{yyyy-MM}_{yyyyMMdd_HHmmss}.parquet`
  * (src/lambda_functions/data_downloader.py:31-32), archive
  * `archive/yyyy/MM/dd/{basename}` (src/lambda_functions/s3_operations.py:68-69).
  * Paths are plain strings so local FS and `s3a://` work identically.
  */
final case class ZoneCatalog(root: String) {
  val bronze: String = s"$root/bronze"
  val silver: String = s"$root/silver"
  val gold: String = s"$root/gold"
  val archive: String = s"$root/archive"

  /** Control-plane state (ledgers, logs) lives beside the data zones. */
  val state: String = s"$root/state"

  /** The batch promote's exactly-once ledger ([[ProcessedLog]]). */
  val processedLog: String = s"$state/processed_log"

  /** Prefix every taxi drop lands under (both promotes read it). */
  val bronzeTaxi: String = s"$bronze/nyc_taxi"

  /** The batch promote's silver table, which gold reads. */
  val silverCleaned: String = s"$silver/cleaned"

  def bronzeKey(yearMonth: String, stamp: String): String =
    s"$bronzeTaxi/yellow_taxi_${yearMonth}_$stamp.parquet"

  def archiveKey(date: java.time.LocalDate, baseName: String): String =
    f"$archive/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d/$baseName"
}

/** Injected clock — the reference embeds wall-clock in object keys and tags
  * (data_downloader.py:31, s3_operations.py:52), which would make outputs
  * nondeterministic; every timestamp in this engine flows through here.
  */
trait Clock {
  def now(): java.time.Instant
}

object SystemClock extends Clock {
  def now(): java.time.Instant = java.time.Instant.now()
}

final case class FixedClock(at: java.time.Instant) extends Clock {
  def now(): java.time.Instant = at
}
