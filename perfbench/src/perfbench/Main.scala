package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.queries.Registry
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Linear-interpolated percentile; NaN when there are no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

object Fs {
  /** Regular files under `dir` (recursively) whose name ends in `suffix`. */
  def count(dir: String, suffix: String): Int = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.count(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
      finally w.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }
  }

  def lines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case o => apply(o.toString)
  }
}

/** The benchmark's JVM side. Arguments: workload, seed, seconds, trace
  * (0|1), and the run's scratch root, which holds `config.tsv`,
  * `drops.tsv` and the generated tables under `data/`.
  * Writes `result.json` into the root; the launcher turns it into the
  * benchmark's result line.
  */
object Main {

  def session(cores: Int, root: String): SparkSession = {
    val s = GraftSession.builder(Some(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Progress line in the JVM log (the launcher keeps stdout clean). */
  def say(msg: String): Unit = println(f"[perfbench ${Clock.ms / 1000 % 1000}%.3f] $msg")

  def main(args: Array[String]): Unit = {
    val mainAt = Clock.ms
    // The seed only shapes the inputs, which the launcher generated.
    val Array(workload, _, secondsArg, traceArg, root) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val conf = Fs.lines(s"$root/config.tsv").map(a => a(0) -> a(1)).toMap
    def int(k: String) = conf(k).toInt
    val drops = Fs.lines(s"$root/drops.tsv")
      .map(a => a(0) -> Drop(a(1), a(2), a(3).toLong, a(4).toLong))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Seq.empty)
    val data = s"$root/data"
    val cores = int("cores")

    val out = mutable.LinkedHashMap.empty[String, Any]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val notes = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    val sessionStart = Clock.ms
    var spark = session(cores, root)
    spark.range(1).count()
    val sessionMs = Clock.ms - sessionStart
    val sample = conf("mix_queries").split(",").toSeq.map(Registry.byName)
    // "train" only warms up: the launcher runs it once per build to record
    // the class-data-sharing archive of everything a run loads.
    val everything = traced || workload == "train"
    val runsBatch = everything || workload == "medallion_batch"
    val runsMix = everything || workload == "query_mix"

    def batchCycle(dir: String, spans: Spans): BatchCycle = {
      val c = Batch.cycle(spark, s"$root/$dir", drops("history"), drops("incr"),
        int("replay"), spans)
      attempted += c.ops; failed += c.failed; notes ++= c.notes
      c
    }
    def streamRun(dir: String, spans: Spans): StreamRun = {
      val r = Stream.run(spark, s"$root/$dir", drops("open"), drops("burst"),
        int("interval_ms"), int("per_trigger"), int("max_files"), spans)
      attempted += r.ops; failed += r.failed; notes ++= r.notes
      r
    }
    def mixPass(spans: Spans): Seq[Exec] = {
      val es = Mix.run(spark, data, s"$root/results", sample, spans)
      attempted += es.size
      es
    }

    say("session started")
    val warm = new Spans(false, "warm")
    val warmStart = Clock.ms
    if (runsBatch) Batch.cycle(spark, s"$root/warm-batch", drops("warm_history"),
      drops("warm_incr"), 1, warm)
    say("batch warm-up done")
    // The stream runs only in the traced pass.
    if (everything) Stream.run(spark, s"$root/warm-stream", drops("warm_open"),
      Seq.empty, int("warm_interval_ms"), 1, int("max_files"), warm)
    say("stream warm-up done")
    // The mix is timed on its first pass: each query's first execution in
    // a warmed-up engine, which repeats far more steadily than later
    // passes (those race the JIT compiling what the first pass generated).
    if (runsMix) Mix.run(spark, data, s"$root/warm-results",
      conf("warm_queries").split(",").toSeq.map(Registry.byName), warm)
    val warmupMs = Clock.ms - warmStart
    say("warm-up done")
    if (workload == "train") { spark.stop(); return }

    if (!traced) {
      val none = new Spans(false, workload)
      val (cpu0, gc0) = (cpuMs(), gcMs())
      val t0 = Clock.ms
      def more = Clock.ms - t0 < seconds * 1000
      workload match {
        case "medallion_batch" =>
          val cs = ArrayBuffer.empty[BatchCycle]
          while (cs.isEmpty || more) {
            cs += batchCycle(s"batch-${cs.size}", none)
            Fs.delete(s"$root/batch-${cs.size - 1}")
          }
          val drop = cs.flatMap(_.dropMs).toSeq
          e2e("work_s") = Stats.median(cs.map(c => c.backfillMs + c.dropMs.sum + c.replayMs).toSeq) / 1000
          e2e("op_ms_p50") = Stats.median(drop)
          e2e("op_ms_p90") = Stats.percentile(drop, 0.9)
          info("backfill_s") = Stats.median(cs.map(_.backfillMs).toSeq) / 1000
          info("drop_to_gold_s_p50") = Stats.median(drop) / 1000
          info("replay_s") = Stats.median(cs.map(_.replayMs).toSeq) / 1000
          info("cycles") = cs.size
          info("drops_timed") = drop.size
        case "query_mix" =>
          val es = mixPass(none)
          val ms = es.map(_.ms)
          e2e("work_s") = ms.sum / 1000
          e2e("op_ms_p50") = Stats.median(ms)
          e2e("op_ms_p90") = Stats.percentile(ms, 0.9)
          info("query_mix_s") = e2e("work_s")
          info("query_s_p50") = e2e("op_ms_p50") / 1000
          info("query_s_p90") = e2e("op_ms_p90") / 1000
          info("executions") = es.size
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      info("work_cpu_s") = (cpuMs() - cpu0) / 1000
      info("work_gc_s") = (gcMs() - gc0) / 1000
    } else {
      // The traced pass: every workload once with spans and listeners,
      // then medallion_batch again on one core.
      val l4 = new Listeners
      l4.register(spark)
      val spans = new Spans(true, "local4")
      val c4 = spans.span("workload.medallion_batch")(batchCycle("batch", spans))
      say("traced batch done")
      val r = spans.span("workload.medallion_stream")(streamRun("stream", spans))
      say("traced stream done")
      val es = spans.span("workload.query_mix")(mixPass(spans))
      say("traced mix done")
      l4.unregister(spark)
      val a4 = new Attribution(spans, l4)
      val streamR = r.copy(triggers = l4.progress.map(Stream.trigger)
        .map(t => t.batch -> t).toMap)
      layers ++= Batch.layers(spans, a4, "local4", c4, drops("history").size)
      layers ++= Stream.layers(streamR)
      layers ++= Mix.layers(spans, a4, es)
      for ((w, short) <- Seq("medallion_batch" -> "batch",
          "medallion_stream" -> "stream", "query_mix" -> "mix"))
        a4.engine(spans.named(s"workload.$w"), cores)
          .foreach { case (k, v) => layers(s"$short.spark.$k") = v }
      layers("traced.backfill_s") = c4.backfillMs / 1000
      layers("traced.drop_to_gold_s_p50") = Stats.median(c4.dropMs) / 1000
      layers("traced.replay_s") = c4.replayMs / 1000
      layers("traced.land_to_silver_ms_p50") = Stats.median(r.latencyMs)
      layers("traced.land_to_silver_ms_p90") = Stats.percentile(r.latencyMs, 0.9)
      layers("traced.drain_rows_per_s") = r.drainRows / (r.drainMs / 1000)
      layers("traced.query_mix_s") = es.map(_.ms).sum / 1000
      layers("traced.query_s_p50") = Stats.median(es.map(_.ms)) / 1000
      layers("traced.query_s_p90") = Stats.percentile(es.map(_.ms), 0.9) / 1000

      say("attributed")
      // Single-core baseline of the same batch cycle.
      spark.stop()
      spark = session(1, root)
      val l1 = new Listeners
      l1.register(spark)
      val spans1 = new Spans(true, "local1")
      val c1 = spans1.span("workload.medallion_batch")(batchCycle("batch1", spans1))
      say("local[1] batch done")
      l1.unregister(spark)
      val a1 = new Attribution(spans1, l1)
      val one = Batch.layers(spans1, a1, "local1", c1, drops("history").size).toMap
      for (k <- Seq("orchestrator.run_once_ms", "ingest.ingest_file_ms",
          "promote.run_ms", "promote.backfill_run_ms", "taxischema.probe_ms",
          "promote.write_ms", "gold.revenue_ms", "gold.zone_ms"))
        layers(s"speedup.${k.stripSuffix("_ms")}") = one(k) / layers(k)
      layers("speedup.backfill") = c1.backfillMs / c4.backfillMs
      layers("trace.listener_ms") = (l4.overheadNs + l1.overheadNs) / 1e6
      layers("trace.spans") = spans.all.size + spans1.all.size
      out("spans") = (spans.all ++ spans1.all).map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (if (s.run == "local4") spans.selfMs(s) else spans1.selfMs(s))))
      out("jobs") = (a4.jobs.map(j => "local4" -> j) ++
        a1.jobs.map(j => "local1" -> j)).map { case (run, j) =>
        Map("run" -> run, "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
          "site" -> j.site, "phase" -> Batch.phaseOf(j), "tasks" -> j.work.tasks,
          "executor_run_ms" -> j.work.runMs)
      }
    }

    say("workload done")
    out("main_at_ms") = mainAt
    out("session_ms") = sessionMs
    out("warmup_ms") = warmupMs
    out("peak_rss_mb") = peakRssMb()
    out("e2e") = e2e
    out("info") = info
    out("layers") = layers
    out("attempted") = attempted
    out("failed") = failed
    out("notes") = notes
    out("queries") = if (runsMix) sample.map(_.name) else Seq.empty
    out("oracle") = if (runsMix) sample.flatMap(q => q.oracle.map(q.name -> _)).toMap
      else Map.empty
    spark.stop()
    Files.writeString(Paths.get(s"$root/result.json"), Json(out))
    say("stopped")
  }

  /** CPU time of the whole JVM process, all threads. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Time spent in garbage collection so far. */
  def gcMs(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  /** Process high-water RSS (VmHWM) in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
