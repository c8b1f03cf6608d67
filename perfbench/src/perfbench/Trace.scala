package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and Spark events: epoch milliseconds with
  * sub-millisecond resolution (Spark stamps its events with
  * `System.currentTimeMillis`, so spans must live on the same axis).
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder. Spans are opened and closed on the one
  * thread that runs the workload, so a plain stack gives each span its
  * parent. With tracing off, [[span]] is a direct call.
  */
final class Spans(val enabled: Boolean, val run: String) {
  val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Clock.ms
      try body
      finally {
        all += Span(id, name, parent, run, start, Clock.ms)
        stack = stack.tail
      }
    }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq

  /** Innermost span whose interval holds `t`. */
  def innermost(t: Double): Option[Span] =
    all.filter(s => s.start <= t && t <= s.end).maxByOption(s => depth(s))

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + all.find(_.id == s.parent).map(depth).getOrElse(0)

  def isWithin(s: Span, ancestor: Span): Boolean =
    s.id == ancestor.id ||
      (s.parent >= 0 && all.find(_.id == s.parent).exists(isWithin(_, ancestor)))

  /** Self time: duration minus the part of it the child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - Intervals.union(children(s).map(c => (c.start, c.end)))
}

object Intervals {
  /** Total length covered by a set of [start, end] intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(iv: (Double, Double), lo: Double, hi: Double): (Double, Double) =
    (math.max(iv._1, lo), math.max(math.max(iv._1, lo), math.min(iv._2, hi)))
}

/** Task metrics summed over a set of tasks. */
final class Work {
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: Work): Work = {
    tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    this
  }
}

/** One Spark job as the listener saw it. `site` is the short call site
  * ("parquet at TaxiSchema.scala:60") and `stack` the long one; AQE's
  * asynchronous jobs take both from their SQL execution instead of from
  * their own first stage, which names `CompletableFuture.java`.
  */
final class Job(val id: Int, val start: Double, stageSite: String,
    stageStack: String) {
  var end: Double = start
  var stagesRun = 0
  val work = new Work
  var site: String = stageSite
  var stack: String = stageStack

  /** Source file of the first graft frame ("Promote"), or "" if none. */
  def file: String = Job.SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("")
  /** The action in the short call site ("collect", "parquet", ...). */
  def action: String = site.split(" at ").headOption.getOrElse("")
}

object Job {
  private val SiteFile = """ at (\w+)\.(?:scala|java):\d+""".r
}

/** A finished SQL execution as the [[QueryExecutionListener]] saw it. */
final case class Execution(id: Long, planMs: Double, files: Long,
    bytes: Long, rows: Long)

/** The benchmark's own listeners: a [[SparkListener]] for jobs, stages
  * and tasks, a [[QueryExecutionListener]] for planning phases and write
  * metrics, and a [[StreamingQueryListener]] for trigger progress. All
  * state is kept in memory and attributed to spans after the run.
  */
final class Listeners extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val sqlStart = mutable.HashMap.empty[Long, (Double, String, String)]
  // The QueryExecutionListener sees the QueryExecution but not its SQL
  // execution id; the execution-end event carries both.
  private val sqlId = new java.util.IdentityHashMap[QueryExecution, Long]
  private val finished = ArrayBuffer.empty[(QueryExecution, Execution)]
  val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  /** Time spent inside the listeners' own callbacks. */
  @volatile var overheadNs = 0L

  private def timed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val first = e.stageInfos.minBy(_.stageId)
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val j = new Job(e.jobId, e.time.toDouble, first.name, first.details)
    exec.flatMap(sqlStart.get).foreach { case (_, site, stack) =>
      j.site = site; j.stack = stack
    }
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
      val w = j.work
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.cpuMs += m.executorCpuTime / 1e6
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  })

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed(synchronized {
      sqlStart(s.executionId) = (s.time.toDouble, s.description, s.details)
    })
    case s: SparkListenerSQLExecutionEnd => timed(synchronized {
      SqlEvents.queryExecution(s).foreach(sqlId.put(_, s.executionId))
    })
    case _ =>
  }

  /** Finished SQL executions whose id is known. */
  def executions: Seq[Execution] = synchronized {
    finished.toSeq.flatMap { case (qe, e) =>
      Option(sqlId.get(qe)).map(id => e.copy(id = id))
    }
  }

  /** Start time of a SQL execution, when the listener saw it begin. */
  def executionStart(id: Long): Option[Double] = synchronized(sqlStart.get(id).map(_._1))

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = timed {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      // Write metrics of the plan's top file-writing node.
      val writes = qe.executedPlan.collectFirst {
        case p if p.metrics.contains("numFiles") => p.metrics
      }
      def metric(n: String): Long = writes.flatMap(_.get(n)).map(_.value).getOrElse(0L)
      val ex = Execution(-1, plan, metric("numFiles"),
        metric("numOutputBytes"), metric("numOutputRows"))
      Listeners.this.synchronized(finished += qe -> ex)
    }
    def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(Listeners.this.synchronized(progress += e.progress))
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def snapshotJobs: Seq[Job] = synchronized(jobs.values.toSeq)
}

/** Jobs and executions attributed to spans: each job belongs to the
  * innermost span open when it started.
  */
final class Attribution(spans: Spans, l: Listeners) {
  val jobs: Seq[Job] = l.snapshotJobs
  private val jobSpan: Map[Int, Option[Span]] =
    jobs.map(j => j.id -> spans.innermost(j.start)).toMap

  /** Jobs that started inside `s` or any span below it. */
  def jobsIn(s: Span): Seq[Job] =
    jobs.filter(j => jobSpan(j.id).exists(spans.isWithin(_, s)))

  def jobsIn(ss: Seq[Span]): Seq[Job] = ss.flatMap(jobsIn)

  /** Wall time covered by the jobs, clipped to the span. */
  def jobWallMs(s: Span, js: Seq[Job]): Double =
    Intervals.union(js.map(j => Intervals.clip((j.start, j.end), s.start, s.end)))

  def work(js: Seq[Job]): Work = js.foldLeft(new Work)((w, j) => w.add(j.work))

  /** SQL executions that started inside `s`. */
  private val executions = l.executions
  def executionsIn(s: Span): Seq[Execution] = executions
    .filter(e => l.executionStart(e.id).exists(t => s.start <= t && t <= s.end))

  /** The Spark-engine rollup for a set of top-level spans. */
  def engine(ss: Seq[Span], cores: Int): Seq[(String, Double)] = {
    val js = jobsIn(ss).distinct
    val w = work(js)
    val wall = Intervals.union(js.map(j => (j.start, j.end)))
    Seq(
      "jobs" -> js.size.toDouble,
      "stages" -> js.map(_.stagesRun).sum.toDouble,
      "tasks" -> w.tasks.toDouble,
      "executor_run_ms" -> w.runMs.toDouble,
      "executor_cpu_ms" -> w.cpuMs,
      "gc_ms" -> w.gcMs.toDouble,
      "input_bytes" -> w.inputBytes.toDouble,
      "output_bytes" -> w.outputBytes.toDouble,
      "shuffle_read_bytes" -> w.shuffleRead.toDouble,
      "shuffle_write_bytes" -> w.shuffleWrite.toDouble,
      "spill_bytes" -> w.spill.toDouble,
      "core_busy_ratio" -> (if (wall > 0) w.runMs / (wall * cores) else 0.0))
  }
}
