package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.queries.{QuerySpec, Registry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable

/** Dev profiler for the registry queries whose name matches a regex
  * (optimization guide §1: measure first). One session, one untimed
  * warm-up, then each query in name order, caches cleared after each:
  *   - `time`: Bench's own sampling policy ([[Bench.measure]]); prints
  *     the reported seconds and the suspect flag.
  *   - `plan`: writes `explain("formatted")` to `<outDir>/<query>.txt`,
  *     and `<outDir>/_meta.txt` with the settings partition counts in the
  *     plans follow (`spark.sql.shuffle.partitions`, the local cores), so
  *     `tools/plandiff.py` refuses to compare dumps made under different
  *     ones.
  *   - `stages`: a warm run with caches kept (as Bench's repeat iters
  *     keep them), then the measured run: per-job wall time with call
  *     site, and per-stage executor task time, shuffle read/write bytes,
  *     input bytes and task count — what Bench's single number can't say.
  *
  * Usage: runMain graft.tools.Prof <time|plan|stages> <sfDir> <name-regex> [outDir]
  */
object Prof {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Prof <time|plan|stages> <sfDir> <name-regex> [outDir]"
    require(args.length >= 3 && Set("time", "plan", "stages")(args(0)), usage)
    require(args(0) != "plan" || args.length == 4, "plan mode needs an outDir")
    val Array(mode, sfDir, pattern) = args.take(3)
    val spark = GraftSession.local()
    try {
      SparkEntry.entry(spark).count() // session warm-up
      spark.catalog.clearCache()
      val profile: QuerySpec => Unit = mode match {
        case "time" => time(spark, sfDir)
        case "plan" =>
          writeMeta(spark, args(3))
          plan(spark, sfDir, args(3))
        case "stages" => stages(spark, sfDir)
      }
      Registry.all.filter(q => pattern.r.findFirstIn(q.name).isDefined)
        .sortBy(_.name)
        .foreach { q => profile(q); spark.catalog.clearCache() }
    } finally spark.stop()
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, sfDir: String)(q: QuerySpec): Unit = {
    val (sec, _, suspect) = Bench.measure(
      () => seconds(q.run(spark, sfDir).count()), 3, 2.0, None,
      () => System.gc())
    println(f"[prof] ${q.name} $sec%.3f s" + (if (suspect) " suspect" else ""))
  }

  private def writeMeta(spark: SparkSession, outDir: String): Unit = {
    val out = java.nio.file.Paths.get(outDir, "_meta.txt")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out,
      s"spark.sql.shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}\n" +
        s"local.cores=${spark.sparkContext.defaultParallelism}\n")
  }

  private def plan(spark: SparkSession, sfDir: String,
      outDir: String)(q: QuerySpec): Unit = {
    val out = java.nio.file.Paths.get(outDir, s"${q.name}.txt")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, q.run(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted")).trim + "\n")
    println(s"[prof] $out")
  }

  private final case class Job(id: Int, site: String, t0: Long, var t1: Long = 0L)
  private final case class Stage(id: Int, name: String, taskMs: Long,
      nTasks: Int, shRead: Long, shWrite: Long, inBytes: Long)

  private def stages(spark: SparkSession, sfDir: String): QuerySpec => Unit = {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    @volatile var on = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
        // SQL actions never set the `callSite.short` job property; the
        // result stage (the job's newest) is named after the call site.
        val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
        jobs.synchronized { jobs(e.jobId) = Job(e.jobId, site, e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (on) {
          val (si, tm) = (e.stageInfo, e.stageInfo.taskMetrics)
          stages.synchronized {
            stages += Stage(si.stageId, si.name, tm.executorRunTime,
              si.numTasks, tm.shuffleReadMetrics.totalBytesRead,
              tm.shuffleWriteMetrics.bytesWritten, tm.inputMetrics.bytesRead)
          }
        }
    })
    q => {
      q.run(spark, sfDir).count() // warm run, caches kept
      jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
      on = true
      val wall = seconds(q.run(spark, sfDir).count())
      on = false
      println(f"%n==== ${q.name} wall=$wall%.3f s ====")
      println("-- jobs (driver wall ms, callsite) --")
      val js = jobs.synchronized(jobs.values.toSeq.sortBy(_.id))
      js.filter(j => j.t1 - j.t0 >= 20) // shorter jobs only count in the sum
        .foreach(j => println(f"  job ${j.id}%4d ${j.t1 - j.t0}%6d ms  ${j.site}"))
      println(s"  [sum of job wall: ${js.map(j => j.t1 - j.t0).sum} ms over ${js.size} jobs]")
      println("-- stages by executor task time --")
      stages.synchronized(stages.toSeq).sortBy(-_.taskMs).take(20).foreach { s =>
        println(f"  stage ${s.id}%4d task=${s.taskMs}%6d ms n=${s.nTasks}%3d " +
          f"shR=${s.shRead}%9d shW=${s.shWrite}%9d in=${s.inBytes}%9d  ${s.name.take(90)}")
      }
    }
  }
}
