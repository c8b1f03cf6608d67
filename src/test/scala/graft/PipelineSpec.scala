package graft

import graft.pipeline._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pipeline semantics the reference gets wrong or leaves implicit:
  * incremental discovery, schema-drift normalization, month-gate string
  * compare, and — the §3.2 hazard — crash-between-write-and-ledger reruns
  * converging to exactly-once output.
  */
class PipelineSpec extends SparkSpec {

  private val clock =
    FixedClock(java.time.Instant.parse("2024-03-15T11:00:00Z"))

  /** Write a tiny taxi-like parquet file; `driftDouble` emits
    * passenger_count as double (TLC vintage drift, SURVEY §1.2).
    */
  private def writeTrips(dir: String, name: String, rows: Seq[(Int, Long, Double)],
      driftDouble: Boolean = false): String = {
    val schema = StructType(Seq(
      StructField("VendorID", IntegerType),
      StructField("tpep_pickup_datetime", TimestampType),
      StructField("tpep_dropoff_datetime", TimestampType),
      StructField("passenger_count",
        if (driftDouble) DoubleType else LongType),
      StructField("payment_type", LongType),
      StructField("fare_amount", DoubleType)))
    val data = rows.map { case (v, pt, fare) =>
      Row(v,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 10:30:00"),
        if (driftDouble) 1.0 else 1L,
        pt, fare)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema)
    val path = s"$dir/$name"
    df.write.mode("overwrite").parquet(path)
    // Spark writes a directory; promote lists the part files inside.
    path
  }

  private def freshPipeline(): (ZoneCatalog, ProcessedLog, Promote) = {
    val cat = ZoneCatalog(TempDirs.create("graft-pipe"))
    val log = new ProcessedLog(spark, cat.processedLog, clock)
    (cat, log, new Promote(spark, cat, log))
  }

  test("promote: schema drift normalizes to canonical types") {
    val (cat, _, promote) = freshPipeline()
    writeTrips(s"${cat.bronze}/nyc_taxi", "a.parquet", Seq((1, 1L, 10.0)))
    writeTrips(s"${cat.bronze}/nyc_taxi", "b.parquet", Seq((2, 2L, 20.0)),
      driftDouble = true)
    promote.run()
    val silver = promote.readSilver()
    assert(silver.schema("passenger_count").dataType == LongType)
    assert(silver.count() == 2)
  }

  test("promote: incremental — second run processes only new files") {
    val (cat, log, promote) = freshPipeline()
    writeTrips(s"${cat.bronze}/nyc_taxi", "m1.parquet", Seq((1, 1L, 10.0)))
    val first = promote.run()
    assert(first.nonEmpty)
    assert(promote.run().isEmpty, "no new files → nothing processed")

    writeTrips(s"${cat.bronze}/nyc_taxi", "m2.parquet", Seq((1, 2L, 30.0)))
    val second = promote.run()
    assert(second.forall(_.contains("m2.parquet")))
    assert(promote.readSilver().count() == 2)
  }

  test("promote: crash between write and ledger commit does not duplicate") {
    val (cat, log, promote) = freshPipeline()
    writeTrips(s"${cat.bronze}/nyc_taxi", "m1.parquet", Seq((1, 1L, 10.0), (1, 2L, 15.0)))

    // Simulate the reference's §3.2 hazard: the silver write succeeds but
    // the process dies before log.mark — i.e. run the write only.
    val todo = promote.listBronze()
    Promote.clean(TaxiSchema.readTagged(spark, todo))
      .write.mode("overwrite").partitionBy("src_id", "payment_type")
      .parquet(promote.silverTable)
    assert(promote.readSilver().count() == 2)

    // Harder than a plain retry: a NEW file arrives before the recovery
    // run, so the retry batch differs from the crashed one. Per-file
    // src_id partitions make the rerun overwrite exactly m1's output.
    writeTrips(s"${cat.bronze}/nyc_taxi", "m2.parquet", Seq((1, 3L, 30.0)))
    promote.run()
    assert(promote.readSilver().count() == 3,
      "rerun after crash must not duplicate the crashed batch's rows " +
        "(unlike bronze_to_silver.py:85-89), even when the retry set differs")
  }

  test("promote: incremental run is safe under a static-overwrite session") {
    // The writer pins partitionOverwriteMode=dynamic; under a session left
    // at the Spark default (static), an incremental run must still only
    // replace the new file's partitions — not truncate the silver table.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val (cat, _, promote) = freshPipeline()
      writeTrips(s"${cat.bronze}/nyc_taxi", "m1.parquet", Seq((1, 1L, 10.0)))
      promote.run()
      writeTrips(s"${cat.bronze}/nyc_taxi", "m2.parquet", Seq((1, 2L, 30.0)))
      promote.run()
      assert(promote.readSilver().count() == 2,
        "static session conf must not let the second run truncate silver")
    } finally spark.conf.set(key, saved)
  }

  test("promote: clean drops invalid rows") {
    val (cat, _, promote) = freshPipeline()
    writeTrips(s"${cat.bronze}/nyc_taxi", "m.parquet",
      Seq((1, 1L, 10.0), (1, 1L, -5.0))) // negative fare dropped
    promote.run()
    assert(promote.readSilver().count() == 1)
  }

  test("promote: many files with mixed schemas — plan groups by footer schema") {
    val (cat, _, promote) = freshPipeline()
    (1 to 6).foreach { i =>
      writeTrips(s"${cat.bronze}/nyc_taxi", f"f$i%02d.parquet",
        Seq((i, (i % 3 + 1).toLong, i * 10.0)), driftDouble = i % 2 == 0)
    }
    val df = TaxiSchema.readTagged(spark, promote.listBronze())
    // 2 distinct footer schemas -> 2 scan branches, not 6
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 2, s"expected 2 schema-grouped scans, saw $scans")
    promote.run()
    val silver = promote.readSilver()
    assert(silver.count() == 6)
    assert(silver.select("src_id").distinct().count() == 6,
      "every file keeps its own commit partition")
  }

  test("promote: failure marks files Failed and rethrows") {
    val (cat, log, promote) = freshPipeline()
    // a corrupt "parquet" file → TaxiSchema.readTagged throws
    val dir = java.nio.file.Paths.get(s"${cat.bronze}/nyc_taxi")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("bad.parquet"), "not parquet")
    intercept[Exception](promote.run())
    val status = log.currentStatus().values.head.status
    assert(status == ProcessedLog.Failed)
    // the failed file stays discoverable for retry
    assert(log.unprocessed(promote.listBronze()).size == 1)
  }

  test("promote: a failing notifier leaves committed files Processed") {
    val cat = ZoneCatalog(TempDirs.create("graft-pipe"))
    val log = new ProcessedLog(spark, cat.processedLog, clock)
    val boom = new RuntimeException() // null message
    val promote = new Promote(spark, cat, log, new Notify {
      def info(subject: String, message: String): Unit = throw boom
      def error(subject: String, message: String): Unit = ()
    })
    writeTrips(s"${cat.bronze}/nyc_taxi", "n.parquet", Seq((1, 1L, 10.0)))
    val thrown = intercept[RuntimeException](promote.run())
    assert(thrown eq boom, s"the notifier's exception must escape, got $thrown")
    val status = log.currentStatus().values.head.status
    assert(status == ProcessedLog.Processed)
  }

  test("promote: a throwing alert does not hide the write's error") {
    val cat = ZoneCatalog(TempDirs.create("graft-pipe"))
    val log = new ProcessedLog(spark, cat.processedLog, clock)
    val alert = new RuntimeException("alert sink down")
    val promote = new Promote(spark, cat, log, new Notify {
      def info(subject: String, message: String): Unit = ()
      def error(subject: String, message: String): Unit = throw alert
    })
    val dir = java.nio.file.Paths.get(s"${cat.bronze}/nyc_taxi")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("bad.parquet"), "not parquet")
    val thrown = intercept[Exception](promote.run())
    assert(!(thrown eq alert), "the write's exception must surface")
    assert(thrown.getSuppressed.exists(_ eq alert),
      "the alert's exception rides along as suppressed")
    assert(log.currentStatus().values.head.status == ProcessedLog.Failed)
  }

  test("gold: summaries build from silver and rebuild idempotently") {
    val (cat, _, promote) = freshPipeline()
    writeTrips(s"${cat.bronze}/nyc_taxi", "m.parquet",
      Seq((1, 1L, 10.0), (1, 1L, 20.0), (1, 2L, 5.0)))
    promote.run()
    val gold = new Gold(spark, cat)
    val rev = gold.buildRevenueSummary()
    // rollup: (pt, month) rows + per-pt subtotals + grand total
    val grand = rev.filter(org.apache.spark.sql.functions.col("payment_type")
      .isNull).select("total_fare").head().getDouble(0)
    assert(grand == 35.0)
    // Both tables carry the types their builds wrote: payment_type stays
    // silver's BIGINT instead of what its directory names infer to.
    assert(rev.schema.map(f => f.name -> f.dataType) == Seq(
      "month" -> StringType, "n_trips" -> LongType,
      "total_fare" -> DoubleType, "total_tips" -> DoubleType,
      "avg_distance" -> DoubleType, "payment_type" -> LongType))
    val zone = gold.buildZoneSummary()
    assert(zone.schema.map(f => f.name -> f.dataType) == Seq(
      "PULocationID" -> IntegerType, "n_trips" -> LongType,
      "total_revenue" -> DoubleType))
    val revCount = rev.count() // materialize before overwrite invalidates it
    assert(zone.count() == 1)
    // idempotent rebuild (full overwrite)
    assert(gold.buildRevenueSummary().count() == revCount)
  }

  test("month ledger: lexicographic string >= gate (fetch_raw_data.py:135)") {
    val cat = ZoneCatalog(TempDirs.create("graft-ledger"))
    val ledger = new MonthLedger(spark, s"${cat.state}/month_ledger", clock)
    assert(!ledger.shouldSkip("2024-01"), "empty ledger skips nothing")
    ledger.markProcessed("2024-01")
    assert(ledger.shouldSkip("2024-01"), "same month skipped")
    assert(ledger.shouldSkip("2023-12"), "older month skipped")
    assert(!ledger.shouldSkip("2024-02"), "newer month processed")
    assert(ledger.lastProcessed().contains("2024-01"))
  }

  test("orchestrator: probe window, gate, ingest key layout") {
    val cat = ZoneCatalog(TempDirs.create("graft-orch"))
    val ledger = new MonthLedger(spark, s"${cat.state}/month_ledger", clock)
    val ingest = new Ingest(cat, clock)
    val src = TempDirs.create("graft-src") + "/src.parquet"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src), "x")

    // Clock is 2024-03-15; probe accepts only 2024-01 (2 months back).
    val orch = new Orchestrator(ingest, ledger)
    val key = orch.runOnce(_ == "2024-01", _ => src)
    assert(key.exists(_.endsWith(
      "nyc_taxi/yellow_taxi_2024-01_20240315_110000.parquet")),
      s"key layout mismatch: $key")
    assert(orch.runOnce(_ == "2024-01", _ => src).isEmpty,
      "second run gated by ledger")
  }

  test("orchestrator: HTTP probe + streaming download end-to-end") {
    // Loopback fixture server: only 2024-01 exists; everything else 404s.
    // Exercises the real java.net.http hooks (HEAD probe, streamed GET)
    // through the same Orchestrator path the local-file tests use.
    val payload = Array.tabulate[Byte](1 << 16)(i => (i % 251).toByte)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/trip-data/", { exchange =>
      val available = exchange.getRequestURI.getPath
        .endsWith("yellow_tripdata_2024-01.parquet")
      if (!available) {
        exchange.sendResponseHeaders(404, -1)
      } else if (exchange.getRequestMethod == "HEAD") {
        exchange.sendResponseHeaders(200, -1)
      } else {
        exchange.sendResponseHeaders(200, payload.length.toLong)
        exchange.getResponseBody.write(payload)
      }
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val http = new HttpSource(
        ym => s"http://127.0.0.1:$port/trip-data/yellow_tripdata_$ym.parquet",
        java.nio.file.Paths.get(TempDirs.create("graft-http-tmp")))
      assert(http.probe("2024-01"), "published month must probe true")
      assert(!http.probe("2024-02"), "unpublished month must probe false")

      val cat = ZoneCatalog(TempDirs.create("graft-http"))
      val ledger = new MonthLedger(spark, s"${cat.state}/month_ledger", clock)
      val orch = new Orchestrator(new Ingest(cat, clock), ledger)
      val key = orch.runOnce(http.probe, http.download)
      assert(key.exists(_.endsWith(
        "nyc_taxi/yellow_taxi_2024-01_20240315_110000.parquet")),
        s"key layout mismatch: $key")
      val got = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(key.get))
      assert(java.util.Arrays.equals(got, payload),
        "downloaded bytes must match the served payload")
    } finally server.stop(0)
  }

  test("http download: non-2xx raises and leaves no partial file") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      exchange.sendResponseHeaders(503, -1); exchange.close()
    })
    server.start()
    try {
      val tmp = java.nio.file.Paths.get(TempDirs.create("graft-http-err"))
      val http = new HttpSource(
        ym => s"http://127.0.0.1:${server.getAddress.getPort}/$ym",
        tmp)
      intercept[java.io.IOException](http.download("2024-01"))
      assert(!java.nio.file.Files.list(tmp).iterator().hasNext,
        "failed download must clean up its temp file")
    } finally server.stop(0)
  }

  test("ingest: archive moves to dated layout (s3_operations.py:68-69)") {
    val cat = ZoneCatalog(TempDirs.create("graft-arch"))
    val ingest = new Ingest(cat, clock)
    val src = TempDirs.create("graft-src2") + "/f.parquet"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src), "x")
    val key = ingest.ingestFile(src, "2024-01")
    val archived = ingest.archiveFile(key)
    assert(archived.endsWith("archive/2024/03/15/yellow_taxi_2024-01_20240315_110000.parquet"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(key)))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(archived)))
  }

  test("ingest: the copy lands under a _tmp- name promote does not list") {
    val cat = ZoneCatalog(TempDirs.create("graft-tmp"))
    val ingest = new Ingest(cat, clock)
    val src = TempDirs.create("graft-src3") + "/f.parquet"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src), "x")
    val key = ingest.ingestFile(src, "2024-01")
    assert(key == cat.bronzeKey("2024-01", "20240315_110000"))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(key)) == "x")
    // an interrupted copy: its _tmp- sibling stays invisible to promote
    val tmp = java.nio.file.Paths.get(key).resolveSibling("_tmp-x.parquet")
    java.nio.file.Files.writeString(tmp, "trunc")
    val promote = new Promote(spark, cat,
      new ProcessedLog(spark, cat.processedLog, clock))
    assert(promote.listBronze().map(p => new java.net.URI(p).getPath) ==
      Seq(key))
  }

  test("processed log: latest status wins, errors truncated to 250") {
    val cat = ZoneCatalog(TempDirs.create("graft-log"))
    val log = new ProcessedLog(spark, s"${cat.state}/plog", clock)
    log.mark(Seq("/a"), ProcessedLog.Failed, Some("x" * 500))
    val err = log.currentStatus()("/a").error.get
    assert(err.length == 250)
    log.mark(Seq("/a"), ProcessedLog.Processed)
    val un = log.unprocessed(Seq("/a", "/b")).toSet
    assert(un == Set("/b"))
  }

  test("ledgers: Spark-written logs still read; a crashed append is ignored") {
    import spark.implicits._
    val cat = ZoneCatalog(TempDirs.create("graft-ledger-compat"))
    val logDir = s"${cat.state}/plog"
    val monthDir = s"${cat.state}/month_ledger"
    // One part file per ledger in the format DataFrame.write produced.
    val (t0, t1, t2) = ("2024-03-15T10:00:00.000Z", "2024-03-15T10:30:00.000Z",
      "2024-03-15T11:00:00.000Z")
    Seq(("/a", "Failed", t0, "boom"), ("/a", "Processed", t1, null),
        ("/b", "Processed", t0, null),
        ("/c", "Processed", t1, null), ("/c", "Failed", t1, "tie"),
        ("/d", "Processed", t0, null), ("/d", "Failed", t1, "retry"))
      .toDF("path", "status", "logged_at", "error")
      .write.mode("append").parquet(logDir)
    Seq(("2024-01", t0), ("2023-12", t1)).toDF("year_month", "updated_at")
      .write.mode("append").parquet(monthDir)
    // What a crash mid-append leaves behind: a temp file of garbage.
    val junk = Array.tabulate[Byte](100)(i => (i * 37).toByte)
    Seq(logDir, monthDir).foreach(d => java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "_tmp-0123.parquet"), junk))

    val log = new ProcessedLog(spark, logDir, clock)
    log.mark(Seq("/e"), ProcessedLog.Processed) // through the driver store
    // The DataFrame form this log replaced, over the same directory: it
    // reads the Spark-written file and the new one alike.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(col("path")).orderBy(col("logged_at").desc,
      (col("status") === ProcessedLog.Processed).desc)
    val viaSpark = spark.read.parquet(logDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getString(0) -> ProcessedLog.Status(
        r.getString(1), r.getString(2), Option(r.getString(3)))).toMap
    assert(log.currentStatus() == viaSpark)
    assert(viaSpark.keySet == Set("/a", "/b", "/c", "/d", "/e"))
    assert(viaSpark("/c").status == ProcessedLog.Processed,
      "Processed wins a timestamp tie")
    assert(log.unprocessed(Seq("/a", "/b", "/c", "/d", "/e", "/f")) ==
      Seq("/d", "/f"))

    val ledger = new MonthLedger(spark, monthDir, clock)
    assert(ledger.lastProcessed().contains("2024-01"))
    ledger.markProcessed("2024-02")
    assert(ledger.lastProcessed().contains("2024-02"))
    assert(spark.read.parquet(monthDir).as[(String, String)].collect().toSet ==
      Set(("2024-01", t0), ("2023-12", t1), ("2024-02", t2)))
  }

  /** Spark jobs started while `body` runs (drains the listener bus on both
    * sides, so every job `body` started is counted).
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc); n.get }
    finally sc.removeSparkListener(listener)
  }

  test("job guard: ledgers start no Spark job; promote and gold do not " +
      "grow with the file count but for the footer probe") {
    val cat = ZoneCatalog(TempDirs.create("graft-jobs-ledger"))
    val ledger = new MonthLedger(spark, s"${cat.state}/month_ledger", clock)
    val log = new ProcessedLog(spark, cat.processedLog, clock)
    assert(jobsDuring {
      ledger.markProcessed("2024-01")
      assert(ledger.shouldSkip("2024-01"))
      log.mark(Seq("/a"), ProcessedLog.Processed)
      log.mark(Seq("/b"), ProcessedLog.Failed)
      assert(log.unprocessed(Seq("/a", "/b", "/c")) == Seq("/b", "/c"))
    } == 0, "ledger reads and appends must run on the driver")

    // promote and gold over 1 and over 3 same-schema files
    def pipeline(files: Int): (Int, Int, Int) = {
      val (cat, _, promote) = freshPipeline()
      (1 to files).foreach(i => writeTrips(s"${cat.bronze}/nyc_taxi",
        s"m$i.parquet", Seq((1, 1L, 10.0 * i), (1, 2L, 5.0))))
      val promoteJobs = jobsDuring(assert(promote.run().size == files))
      val gold = new Gold(spark, cat)
      (promoteJobs, jobsDuring(gold.buildRevenueSummary()),
        jobsDuring(gold.buildZoneSummary()))
    }
    val (p1, r1, z1) = pipeline(1)
    val (p3, r3, z3) = pipeline(3)
    info(s"jobs over 1 / 3 files: promote $p1 / $p3, revenue $r1 / $r3, " +
      s"zone $z1 / $z3")
    assert(p3 - p1 == 2, s"promote: $p1 jobs for 1 file, $p3 for 3 — only " +
      "the per-file footer probe may grow")
    assert(r3 == r1, s"revenue build: $r1 jobs over 1 silver file, $r3 over 3")
    assert(z3 == z1, s"zone build: $z1 jobs over 1 silver file, $z3 over 3")
  }
}
