package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession

/** Month-level idempotency ledger.
  *
  * Replaces the reference's single-row DynamoDB table
  * `{id: "last_processed", year_month, updated_at}` (reference
  * src/lambda_functions/fetch_raw_data.py:56-94; terraform/main.tf:254-263)
  * with a tiny append-only parquet log; the current watermark is
  * `max(year_month)` — reading the max of an append log is crash-safe
  * without any read-modify-write.
  *
  * The dedup gate preserves the reference's exact semantics: skip iff
  * `last_processed >= year_month` as a *lexicographic string* comparison on
  * ISO `yyyy-MM` strings (fetch_raw_data.py:135) — which coincides with
  * chronological order for ISO months, so we keep it string-typed on
  * purpose.
  *
  * Scale posture: like the reference's DynamoDB item, the ledger is control
  * plane, not data. It is read and appended on the driver through
  * [[LedgerFiles]] (no Spark job), at O(ledger files) — one file per
  * ingested month.
  */
final class MonthLedger(spark: SparkSession, path: String, clock: Clock) {

  private val files = new LedgerFiles(
    spark.sparkContext.hadoopConfiguration, path, Seq("year_month", "updated_at"))

  def lastProcessed(): Option[String] =
    files.rows().flatMap(r => Option(r(0))).maxOption

  /** True iff `yearMonth` is NOT newer than the watermark — the caller
    * should skip it (at-least-once gate, string `>=` like the reference).
    */
  def shouldSkip(yearMonth: String): Boolean =
    lastProcessed().exists(_ >= yearMonth)

  def markProcessed(yearMonth: String): Unit =
    files.append(Seq(Seq(yearMonth, Ledgers.stamp(clock))))
}

object Ledgers {

  /** Fixed-width UTC timestamp (millisecond precision) — Instant.toString
    * varies fractional digits, which breaks the lexicographic==chronological
    * property the ledgers' latest-wins ordering relies on.
    */
  private[pipeline] val stampFmt =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSX")
      .withZone(java.time.ZoneOffset.UTC)

  private[pipeline] def stamp(clock: Clock): String =
    stampFmt.format(clock.now())
}

/** The driver-side store behind both ledgers: a directory of small parquet
  * files of nullable STRING columns, one file per append, read and written
  * with parquet-mr on the driver — no Spark job. The files are the ones
  * `DataFrame.write.parquet` produced before (same columns, same types), so
  * logs Spark wrote still read, and every file still opens in
  * `spark.read.parquet` and in DuckDB.
  *
  * An append writes `_tmp-<uuid>.parquet` and renames it to
  * `part-<uuid>.parquet`; readers skip names starting with `_` or `.` (as
  * Spark does), so a crash mid-append leaves no partial row visible. The
  * directory is listed through the Hadoop FS of the path's own scheme, so
  * `s3a://` works like the local FS.
  */
private[pipeline] final class LedgerFiles(conf: Configuration, dir: String,
    columns: Seq[String]) {

  private val root = new Path(dir)

  private val schema = new MessageType("spark_schema", columns.map(c =>
    Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(c)): _*)

  /** Every row of every committed file, values in `columns` order; null
    * where a row holds no value.
    */
  def rows(): Seq[IndexedSeq[String]] = {
    val fs = root.getFileSystem(conf)
    val listed =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.map(_.getPath).filter(p => LedgerFiles.committed(p.getName))
      .flatMap(read)
  }

  private def read(file: Path): Seq[IndexedSeq[String]] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file)
      .withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      columns.map { c =>
        if (g.getType.containsField(c) && g.getFieldRepetitionCount(c) > 0)
          g.getString(c, 0)
        else null
      }.toIndexedSeq
    }.toVector
    finally reader.close()
  }

  /** Append `rows` (values in `columns` order, null for none) as one file. */
  def append(rows: Seq[Seq[String]]): Unit = if (rows.nonEmpty) {
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val id = java.util.UUID.randomUUID()
    val tmp = new Path(root, s"_tmp-$id.parquet")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      columns.zip(r).foreach { case (c, v) => if (v != null) g.append(c, v) }
      writer.write(g)
    } finally writer.close()
    val part = new Path(root, s"part-$id.parquet")
    if (!fs.rename(tmp, part))
      throw new java.io.IOException(s"ledger append: cannot rename $tmp to $part")
  }
}

private[pipeline] object LedgerFiles {

  /** Whether a file name is a committed parquet file: names starting with
    * `_` or `.` are in-flight or hidden (Spark's rule too).
    */
  def committed(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
}

/** Per-file processing log.
  *
  * Replaces the reference's O(files) tag-lookup discovery — one
  * `get_object_tagging` RPC per object (reference
  * src/lambda_functions/s3_operations.py:25-38), a scalability cliff at
  * 100 TB — with one ledger read per promote, diffed against the bronze
  * listing on the driver.
  *
  * Columns: `path`, `status`, `logged_at` (a [[Ledgers.stamp]]) and
  * `error`. Status semantics mirror the tags: a file is unprocessed iff
  * absent from the log or not marked `Processed` (s3_operations.py:33);
  * errors are recorded truncated to 250 chars (s3_operations.py:52-56).
  *
  * Scale posture: the log is read on the driver through [[LedgerFiles]],
  * like the bronze listing it is diffed against, at O(ledger files) — one
  * small file per `mark`, so no Spark job runs for discovery or commit.
  * What is still open at scale: folding the log into one snapshot file
  * once it passes N files, so the read stays O(1) files.
  */
final class ProcessedLog(spark: SparkSession, path: String, clock: Clock) {
  import ProcessedLog._

  private val files = new LedgerFiles(spark.sparkContext.hadoopConfiguration,
    path, Seq("path", "status", "logged_at", "error"))

  /** Latest status per path (the log is append-only; last write wins).
    * Timestamp ties resolve in favor of `Processed` — it is a terminal
    * state, matching the reference's tag semantics where a Processed file
    * never becomes unprocessed again.
    */
  def currentStatus(): Map[String, Status] =
    files.rows().groupBy(_(0)).view.mapValues(_
      .map(r => Status(r(1), r(2), Option(r(3))))
      .maxBy(s => (s.loggedAt, s.status == Processed))).toMap

  /** The paths of `paths` that are not currently `Processed`, in order. */
  def unprocessed(paths: Seq[String]): Seq[String] = {
    val status = currentStatus()
    paths.filterNot(p => status.get(p).exists(_.status == Processed))
  }

  def mark(paths: Seq[String], status: String,
      error: Option[String] = None): Unit = {
    val at = Ledgers.stamp(clock)
    files.append(paths.map(p => Seq(p, status, at, error.map(_.take(250)).orNull)))
  }
}

object ProcessedLog {
  val Processed = "Processed"
  val Failed = "Failed"

  /** One path's latest log entry. */
  final case class Status(status: String, loggedAt: String,
      error: Option[String])
}
