package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.pipeline.{Ingest, ZoneCatalog}
import graft.streaming.StreamingPromote
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One landed stream file: when it was due, when it landed, and which
  * micro-batch committed it.
  */
final case class Landed(name: String, drop: Drop, due: Double, landed: Double)

final case class Trigger(batch: Long, start: Double, commit: Double,
    durations: Map[String, Double])

final case class StreamRun(open: Seq[Landed], burst: Seq[Landed],
    batchOf: Map[String, Long], triggers: Map[Long, Trigger],
    ops: Int, failed: Int, notes: Seq[String]) {

  private def commitOf(l: Landed): Option[Double] =
    batchOf.get(l.name).flatMap(triggers.get).map(_.commit)

  /** Open loop: drop due time → its rows committed to silver. */
  def latencyMs: Seq[Double] = open.flatMap(l => commitOf(l).map(_ - l.due))
  /** Open loop: drop due time → start of the trigger that read it. */
  def waitMs: Seq[Double] = open.flatMap(l =>
    batchOf.get(l.name).flatMap(triggers.get).map(_.start - l.due))
  /** How late the generator landed drops against their schedule. */
  def lateMs: Seq[Double] = open.map(l => l.landed - l.due)
  /** Burst: first landing → last burst batch committed. */
  def drainMs: Double =
    burst.flatMap(commitOf).maxOption.getOrElse(Double.NaN) -
      burst.map(_.landed).minOption.getOrElse(Double.NaN)
  def drainRows: Long = burst.map(_.drop.valid).sum

  def batches(ls: Seq[Landed]): Seq[Trigger] =
    ls.flatMap(l => batchOf.get(l.name)).distinct.sorted.flatMap(triggers.get)

  /** Most files waiting (landed, not yet in an earlier batch) at any
    * trigger start.
    */
  def backlogMax: Int = triggers.values.map { t =>
    (open ++ burst).count(l => l.landed <= t.start &&
      batchOf.get(l.name).forall(_ >= t.batch))
  }.maxOption.getOrElse(0)
}

/** `medallion_stream`: canonical drops through
  * `StreamingPromote.runMicroBatch`. Phase (a) is an open loop that lands
  * `perTrigger` drops per trigger interval on a fixed schedule aligned to
  * the trigger clock; phase (b) lands a burst of drops at once and drains
  * it. Drops land atomically: `Ingest.ingestFile` writes them to a staging
  * zone, and a rename moves each into the watched bronze prefix.
  */
object Stream {

  def run(spark: SparkSession, root: String, open: Seq[Drop], burst: Seq[Drop],
      intervalMs: Int, perTrigger: Int, maxFiles: Int, spans: Spans): StreamRun = {
    val cat = ZoneCatalog(s"$root/zones")
    val clock = new StepClock
    val ingest = new Ingest(ZoneCatalog(s"$root/staging"), clock)
    val bronze = Paths.get(s"${cat.bronze}/nyc_taxi")
    Files.createDirectories(bronze)
    val ckpt = s"$root/checkpoint"
    val sp = new StreamingPromote(spark, cat, ckpt)
    val notes = ArrayBuffer.empty[String]

    def land(d: Drop, due: Double): Landed = {
      clock.at(d.month)
      val staged = Paths.get(ingest.ingestFile(d.path, d.month))
      val dst = bronze.resolve(staged.getFileName)
      Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
      Landed(dst.getFileName.toString, d, due, Clock.ms)
    }

    val q = spans.span("stream.start")(
      sp.runMicroBatch(s"$intervalMs milliseconds", Some(maxFiles)))
    try {
      // Done when every file's micro-batch has reported progress, which
      // the query does only after the batch committed.
      def waitFor(ls: Seq[Landed]): Boolean = {
        val deadline = Clock.ms + 60000
        var done = false
        while (!done && Clock.ms < deadline && q.isActive) {
          val b = batchOf(ckpt)
          val reported = q.recentProgress.map(_.batchId).toSet
          done = ls.forall(l => b.get(l.name).exists(reported))
          if (!done) Thread.sleep(20)
        }
        done
      }
      // Phase (a): due times sit between trigger ticks, which fire on
      // multiples of the interval since the epoch.
      val period = intervalMs.toDouble / perTrigger
      val t0 = (math.floor(Clock.ms / intervalMs) + 2) * intervalMs + period / 2
      val opened = spans.span("stream.open_loop") {
        open.zipWithIndex.map { case (d, i) =>
          val due = t0 + i * period
          val wait = due - Clock.ms
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          land(d, due)
        }
      }
      if (!waitFor(opened)) notes += "open-loop drops not committed in time"
      // Phase (b): the whole burst lands at once.
      val bursted = spans.span("stream.burst") {
        val t = Clock.ms
        val ls = burst.map(land(_, t))
        if (!waitFor(ls)) notes += "burst drops not committed in time"
        ls
      }
      val triggers = q.recentProgress.map(trigger).map(t => t.batch -> t).toMap
      q.stop()
      val landed = opened ++ bursted
      val expected = landed.map(_.drop.valid).sum
      val rows = spark.read.parquet(sp.silverTable).count()
      var failed = notes.size * landed.size
      if (rows != expected) {
        notes += s"silver_stream rows $rows != expected valid rows $expected"
        failed = landed.size
      }
      StreamRun(opened, bursted, batchOf(ckpt), triggers, landed.size,
        math.min(failed, landed.size), notes.toSeq)
    } finally if (q.isActive) q.stop()
  }

  def trigger(p: StreamingQueryProgress): Trigger = {
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    Trigger(p.batchId, start, start + d.getOrElse("triggerExecution", 0.0), d)
  }

  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** File name → micro-batch id, from the file source's own log under
    * the checkpoint (plain and compacted log files alike).
    */
  def batchOf(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val out = mutable.HashMap.empty[String, Long]
    val files = Files.list(dir)
    try files.iterator.asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .foreach { p =>
        try Files.readAllLines(p).asScala.foreach {
          case Entry(path, id) =>
            out(path.substring(path.lastIndexOf('/') + 1)) = id.toLong
          case _ =>
        } catch { case _: java.io.IOException => () }
      }
    finally files.close()
    out.toMap
  }

  /** Per-layer numbers from the trigger progress of one traced run. */
  def layers(r: StreamRun): Seq[(String, Double)] = {
    val open = r.batches(r.open)
    val burst = r.batches(r.burst)
    // Means, not medians: Spark reports whole milliseconds, so a median
    // would repeat the same integer from run to run.
    def mean(ts: Seq[Trigger], k: String) = Stats.mean(ts.map(_.durations.getOrElse(k, 0.0)))
    Seq(
      "stream.trigger_wait_ms" -> Stats.mean(r.waitMs),
      "stream.trigger_ms" -> mean(open, "triggerExecution"),
      "stream.latest_offset_ms" -> mean(open, "latestOffset"),
      "stream.query_planning_ms" -> mean(open, "queryPlanning"),
      "stream.wal_commit_ms" -> mean(open, "walCommit"),
      "stream.commit_offsets_ms" -> mean(open, "commitOffsets"),
      "stream.add_batch_ms" -> mean(burst, "addBatch"),
      "stream.batches" -> burst.size.toDouble,
      "stream.files_per_batch" -> (if (burst.isEmpty) 0.0 else r.burst.size.toDouble / burst.size),
      "stream.backlog_files_max" -> r.backlogMax.toDouble,
      "stream.generator_late_ms_max" -> r.lateMs.maxOption.getOrElse(0.0))
  }
}
