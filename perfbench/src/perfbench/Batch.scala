package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable.ArrayBuffer

import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One generated drop: a parquet file for one month and what the
  * generator expects promote to keep of it.
  */
final case class Drop(month: String, path: String, rows: Long, valid: Long)

/** Month-stepping clock owned by the benchmark. [[at]] moves it to the
  * publication time of a month (TLC publishes about two months late, which
  * is where `Ingest.findLatestAvailable` starts probing); every reading
  * after that advances one second, so bronze keys and ledger stamps never
  * collide and later marks always sort after earlier ones.
  */
final class StepClock extends graft.pipeline.Clock {
  private var month = ""
  private var base = Instant.EPOCH
  private var ticks = 0L
  def at(m: String): Unit = if (m != month) {
    month = m
    base = LocalDate.parse(s"$m-01").plusMonths(2)
      .atStartOfDay(ZoneOffset.UTC).toInstant
    ticks = 0
  }
  def now(): Instant = { ticks += 1; base.plusSeconds(ticks) }
}

/** What one batch cycle measured. Times are milliseconds. */
final case class BatchCycle(backfillMs: Double, dropMs: Seq[Double],
    replayMs: Double, ops: Int, failed: Int, notes: Seq[String],
    todo: Seq[Int], silverFiles: Seq[Int], ledgerFiles: Int)

/** `medallion_batch`: H history months land through `Ingest.ingestFile`
  * and go through one `Promote.run` and a gold build (the backfill); K
  * monthly drops then each go `Orchestrator.runOnce` → `Promote.run` →
  * both gold tables; last, the newest R drops are marked Failed in the
  * `ProcessedLog` and promoted again (the replay).
  */
object Batch {

  def cycle(spark: SparkSession, root: String, history: Seq[Drop],
      incr: Seq[Drop], replay: Int, spans: Spans): BatchCycle = {
    val cat = ZoneCatalog(root)
    val clock = new StepClock
    val ingest = new Ingest(cat, clock)
    val log = new ProcessedLog(spark, s"${cat.state}/processed_log", clock)
    val promote = new Promote(spark, cat, log)
    val gold = new Gold(spark, cat)
    val orchestrator = new Orchestrator(ingest,
      new MonthLedger(spark, s"${cat.state}/month_ledger", clock))

    def buildGold(): Unit = {
      spans.span("gold.revenue")(gold.buildRevenueSummary())
      spans.span("gold.zone")(gold.buildZoneSummary())
    }

    val t0 = Clock.ms
    spans.span("batch.backfill") {
      history.foreach { d =>
        clock.at(d.month)
        spans.span("ingest.ingest_file")(ingest.ingestFile(d.path, d.month))
      }
      spans.span("promote.run")(promote.run())
      buildGold()
    }
    val backfillMs = Clock.ms - t0

    val keys = ArrayBuffer.empty[String]
    // What each drop's promote returned: the bronze files as the
    // ProcessedLog records them (full URIs, not the keys Ingest returns).
    val promoted = ArrayBuffer.empty[Seq[String]]
    val silverFiles = ArrayBuffer.empty[Int]
    val dropMs = incr.map { d =>
      clock.at(d.month)
      val t = Clock.ms
      spans.span("batch.drop") {
        val key = spans.span("orchestrator.run_once")(
          orchestrator.runOnce(_ == d.month, _ => d.path))
        keys ++= key
        promoted += spans.span("promote.run")(promote.run())
        buildGold()
      }
      val ms = Clock.ms - t
      if (spans.enabled) silverFiles += Fs.count(promote.silverTable, ".parquet")
      ms
    }

    // Output checks run outside the timed windows.
    val notes = ArrayBuffer.empty[String]
    var failed = 0
    val expected = (history ++ incr).map(_.valid).sum
    def check(ok: Boolean, ops: Int, what: String): Unit =
      if (!ok) { failed += ops; notes += what }
    val silverRows = promote.readSilver().count()
    check(keys.size == incr.size, incr.size,
      s"orchestrator ingested ${keys.size} of ${incr.size} drops")
    check(promoted.forall(_.size == 1), incr.size,
      s"drop promotes took ${promoted.map(_.size).mkString(",")} files, not one each")
    check(silverRows == expected, history.size + incr.size,
      s"silver rows $silverRows != expected valid rows $expected")
    val grand = spark.read.parquet(gold.revenueTable)
      .filter(col("payment_type").isNull && col("month").isNull)
      .select("n_trips").collect().map(_.getLong(0)).sum
    check(grand == silverRows, incr.size,
      s"gold grand-total n_trips $grand != silver rows $silverRows")
    val before = perSource(promote)

    val replayed = promoted.takeRight(replay).flatten.toSeq.sorted
    val t1 = Clock.ms
    val again = spans.span("batch.replay") {
      spans.span("ledgers.mark")(log.mark(replayed, ProcessedLog.Failed))
      val files = spans.span("promote.run")(promote.run())
      buildGold()
      files
    }
    val replayMs = Clock.ms - t1
    check(again.sorted == replayed, replayed.size,
      s"replay promoted ${again.size} files, not the ${replayed.size} marked Failed")
    val after = perSource(promote)
    check(after == before, replayed.size,
      "per-src_id counts changed across the replay")

    BatchCycle(backfillMs, dropMs, replayMs,
      history.size + incr.size + replayed.size, failed, notes.toSeq,
      promoted.map(_.size).toSeq, silverFiles.toSeq,
      Fs.count(s"${cat.state}/processed_log", ".parquet"))
  }

  private def perSource(p: Promote): Map[String, Long] =
    p.readSilver().groupBy("src_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Per-layer numbers for one traced cycle (its spans carry `run`). */
  def layers(spans: Spans, a: Attribution, run: String, c: BatchCycle,
      history: Int): Seq[(String, Double)] = {
    def mine(name: String) = spans.named(name).filter(_.run == run)
    val dropSpans = mine("batch.drop")
    val incrPromotes = mine("promote.run").filter(s =>
      dropSpans.exists(d => spans.isWithin(s, d)))
    val allPromotes = mine("promote.run")
    def phase(p: Span, kind: String): Seq[Job] =
      a.jobsIn(p).filter(j => Batch.phaseOf(j) == kind)
    // Means over the drops: job walls are whole milliseconds, so a median
    // of a few would repeat the same integer from run to run.
    def phaseMs(kind: String, ps: Seq[Span]) =
      Stats.mean(ps.map(p => a.jobWallMs(p, phase(p, kind))))
    val writes = incrPromotes.map(p => a.executionsIn(p)
      .filter(_.files > 0).foldLeft((0L, 0L, 0L))((t, e) =>
        (t._1 + e.rows, t._2 + e.files, t._3 + e.bytes)))
    val goldIn = dropSpans.map(d => a.work(a.jobsIn(
      spans.children(d).filter(_.name.startsWith("gold.")))).inputBytes.toDouble)
    val rescan = goldIn.zip(writes).map { case (g, w) =>
      if (w._3 > 0) g / w._3 else 0.0 }
    // How much of each drop's wall the child spans leave uncovered, and
    // how much of each promote the attributed jobs leave (driver time).
    val dropGap = dropSpans.map(spans.selfMs)
    val promoteDriver = allPromotes.map(p => p.ms - a.jobWallMs(p, a.jobsIn(p)))
    // Every landed drop stays in bronze, so drop i's promote lists
    // history + i + 1 files.
    val todoRatio = c.todo.zipWithIndex.map { case (t, i) => t / (history + i + 1.0) }
    Seq(
      "orchestrator.run_once_ms" -> Stats.median(mine("orchestrator.run_once").map(_.ms)),
      "ingest.ingest_file_ms" -> Stats.median(mine("ingest.ingest_file").map(_.ms)),
      "promote.run_ms" -> Stats.median(incrPromotes.map(_.ms)),
      "promote.backfill_run_ms" -> allPromotes.headOption.map(_.ms).getOrElse(0.0),
      "promote.driver_ms" -> Stats.median(promoteDriver),
      "promote.discover_ms" -> phaseMs("discover", incrPromotes),
      "promote.files_todo_ratio" -> Stats.median(todoRatio),
      "taxischema.probe_ms" -> allPromotes.map(p => a.jobWallMs(p, phase(p, "probe"))).sum,
      "taxischema.probe_jobs" -> allPromotes.map(phase(_, "probe").size).sum.toDouble,
      "promote.write_ms" -> phaseMs("write", incrPromotes),
      "promote.rows_out" -> Stats.median(writes.map(_._1.toDouble)),
      "promote.files_out" -> Stats.median(writes.map(_._2.toDouble)),
      "promote.bytes_out" -> Stats.median(writes.map(_._3.toDouble)),
      "ledgers.commit_ms" -> phaseMs("commit", incrPromotes),
      "ledgers.files" -> c.ledgerFiles.toDouble,
      "gold.revenue_ms" -> Stats.median(dropChildren(spans, dropSpans, "gold.revenue")),
      "gold.zone_ms" -> Stats.median(dropChildren(spans, dropSpans, "gold.zone")),
      "gold.files_in" -> Stats.median(c.silverFiles.map(_.toDouble)),
      "gold.bytes_in" -> Stats.median(goldIn),
      "gold.rescan_ratio" -> Stats.median(rescan),
      "batch.drop_uncovered_ms" -> Stats.median(dropGap),
      "batch.promote_uncovered_ratio" -> Stats.median(
        allPromotes.zip(promoteDriver).map { case (p, d) => d / p.ms }))
  }

  private def dropChildren(spans: Spans, drops: Seq[Span], name: String) =
    drops.flatMap(d => spans.children(d).filter(_.name == name).map(_.ms))

  /** Which step of `Promote.run` a job belongs to, from the first graft
    * frame of its call site: the TaxiSchema footer probe, discovery (the
    * ProcessedLog anti-join and its collect), the partitioned write, or
    * the ledger commit.
    */
  def phaseOf(j: Job): String = {
    val frame = j.stack.linesIterator.map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
    if (frame.contains("TaxiSchema")) "probe"
    else if (frame.contains("ProcessedLog.mark")) "commit"
    else if (frame.contains("ProcessedLog")) "discover"
    else if (frame.contains("Promote.run"))
      if (j.action == "collect") "discover" else "write"
    else if (j.file == "TaxiSchema") "probe"
    else "other"
  }
}
