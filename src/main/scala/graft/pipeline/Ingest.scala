package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** Driver-side ingest + orchestration utilities.
  *
  * Rebuilds the reference's three Lambdas as plain functions in one driver
  * (SURVEY §3.4): latest-month discovery with HEAD-style probing
  * (reference src/lambda_functions/fetch_raw_data.py:35-53), streaming
  * download into the bronze key layout (data_downloader.py:13-42), and
  * archive-move (s3_operations.py:58-72). The Lambda RPC envelopes collapse
  * into direct calls; sources are pluggable so tests inject local files
  * where the reference speaks HTTP.
  */
final class Ingest(catalog: ZoneCatalog, clock: Clock) {

  private val stampFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)
  private val ymFmt =
    DateTimeFormatter.ofPattern("yyyy-MM").withZone(ZoneOffset.UTC)

  /** Probe months from 2 back to 7 back (TLC publishes with ~2-month lag,
    * fetch_raw_data.py:45-51); first month the probe accepts wins.
    */
  def findLatestAvailable(probe: String => Boolean): Option[String] = {
    val now = clock.now().atOffset(ZoneOffset.UTC)
    (2 to 7).iterator
      .map(back => ymFmt.format(now.minusMonths(back)))
      .find(probe)
  }

  /** Copy one source file into the bronze key layout
    * `nyc_taxi/yellow_taxi_{yyyy-MM}_{stamp}.parquet`. The wall-clock stamp
    * comes from the injected clock, so keys are deterministic under test;
    * like the reference, keys never collide across retries, which is what
    * makes the overall pipeline at-least-once upstream of the batch-
    * idempotent promote. The copy lands under a `_tmp-` sibling name that
    * [[Promote.listBronze]] skips and is renamed to the key atomically, so
    * a crash mid-copy never leaves a truncated drop to promote.
    */
  def ingestFile(source: String, yearMonth: String): String = {
    val key = catalog.bronzeKey(yearMonth, stampFmt.format(clock.now()))
    val dst = Paths.get(key)
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s"_tmp-${dst.getFileName}")
    Files.copy(Paths.get(source), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    key
  }

  /** Move a bronze file to `archive/yyyy/MM/dd/{basename}` (copy+delete,
    * like s3_operations.py:58-72, dated by the injected clock).
    */
  def archiveFile(path: String): String = {
    val date = clock.now().atOffset(ZoneOffset.UTC).toLocalDate
    val src = Paths.get(path)
    val dst = Paths.get(catalog.archiveKey(date, src.getFileName.toString))
    Files.createDirectories(dst.getParent)
    Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }
}

/** The daily orchestration entry (reference fetch_raw_data.lambda_handler,
  * fetch_raw_data.py:114-158): find the newest published month, consult the
  * month ledger's string-`>=` gate, ingest, then advance the watermark.
  * Ledger write happens only after a successful ingest — a crash in between
  * re-downloads under a fresh key next run (at-least-once, identical to the
  * reference), and promote's batch overwrite absorbs the duplicate.
  */
final class Orchestrator(
    ingest: Ingest,
    ledger: MonthLedger,
    notifier: Notify = Notify.Logging) {

  /** @param probe    month availability check (reference: HTTP HEAD)
    * @param download resolves a month to a local source file to ingest
    * @return the bronze key written, or None if skipped/nothing new
    */
  def runOnce(probe: String => Boolean,
      download: String => String): Option[String] = {
    ingest.findLatestAvailable(probe) match {
      case None =>
        notifier.info("orchestrate", "no published month found in probe window")
        None
      case Some(ym) if ledger.shouldSkip(ym) =>
        notifier.info("orchestrate", s"$ym already processed — skipping")
        None
      case Some(ym) =>
        val key = ingest.ingestFile(download(ym), ym)
        ledger.markProcessed(ym)
        notifier.info("orchestrate", s"ingested $ym -> $key")
        Some(key)
    }
  }
}
