package graft

import graft.streaming._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics: batch-equivalence of watermarked window aggregates
  * (the validation strategy SURVEY §2.B prescribes, since watermarks have
  * no DuckDB analog), exactly-once file-source promotion, cross-batch
  * dedup, and custom keyed state.
  */
class StreamingSpec extends SparkSpec {

  /** The file stream source wants a directory; the fixture is a single
    * file — stage a copy (this also matches production layout, where
    * Ingest lands plain files under a prefix).
    */
  private lazy val eventsDir: String = {
    val d = TempDirs.create("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }
  private val eventsPath = "/root/testdata/sf0.001/events.parquet"

  /** Run a streaming DF to a memory sink until exhausted; return the table. */
  private def drain(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  /** One taxi trip in [[graft.pipeline.TaxiSchema.schema]] order. */
  private def trip(paymentType: java.lang.Long, fare: Double,
      dropoff: String = "10:30:00", distance: Double = 0.0): Row =
    Row(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      java.sql.Timestamp.valueOf(s"2024-01-01 $dropoff"),
      1L, distance, 1L, "N", 1, 1, paymentType,
      fare, 0.0, 0.5, 1.0, 0.0, 0.3, 11.8, 2.5, 0.0)

  /** Land `rows` as one bronze drop. Production bronze layout is flat
    * parquet FILES (Ingest.ingestFile copies single objects): stage a
    * Spark write, then move its part file.
    */
  private def land(cat: graft.pipeline.ZoneCatalog, name: String,
      rows: Seq[Row]): Unit = {
    val staging = TempDirs.create("graft-staging")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      graft.pipeline.TaxiSchema.schema)
      .write.mode("overwrite").parquet(s"$staging/out")
    val part = new java.io.File(s"$staging/out").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(s"${cat.bronzeTaxi}/$name")
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(part.toPath, dst)
  }

  test("tumbling window: streaming append == batch, up to the watermark") {
    val stream = EventStreams.fromParquetDir(spark, eventsDir)
    val got = drain(EventStreams.tumbling(stream, "1 hour", "0 seconds"),
      "t_tumbling")

    val batchEvents = EventStreams.fromParquetBatch(spark, eventsPath)
    val maxTs = batchEvents.agg(max(col("ts"))).head().getTimestamp(0)
    // Append mode emits only windows closed by the final watermark (= max
    // event time with a 0 s delay): the trailing open window stays in state.
    val expected = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .filter(col("window.end") <= lit(maxTs))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ws"), col("event_type"), col("n"),
        round(col("total_value"), 6).as("tv")).collect().toSet
    assert(got.count() > 0)
    assert(canon(got) == canon(expected))
  }

  test("session window: streaming append == batch, up to the watermark") {
    val stream = EventStreams.fromParquetDir(spark, eventsDir)
    val got = drain(EventStreams.sessions(stream, "30 minutes", "0 seconds"),
      "t_sessions")

    val batchEvents = EventStreams.fromParquetBatch(spark, eventsPath)
    val maxTs = batchEvents.agg(max(col("ts"))).head().getTimestamp(0)
    val expected = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .filter(col("session_window.end") <= lit(maxTs))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("total_value"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 6).as("tv"))
        .collect().toSet
    assert(got.count() > 0)
    assert(canon(got) == canon(expected))
  }

  test("sliding window: streaming append == batch, up to the watermark") {
    val stream = EventStreams.fromParquetDir(spark, eventsDir)
    val got = drain(
      EventStreams.sliding(stream, "1 hour", "30 minutes", "0 seconds"),
      "t_sliding")
    val batchEvents = EventStreams.fromParquetBatch(spark, eventsPath)
    val maxTs = batchEvents.agg(max(col("ts"))).head().getTimestamp(0)
    val expected = batchEvents
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end") <= lit(maxTs))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ws"), col("event_type"), col("n")).collect().toSet
    assert(got.count() > 0)
    assert(canon(got) == canon(expected))
  }

  test("stream-static enrichment join: broadcast dim, left outer semantics") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[UserState.Event]
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("cust_id", "tier")
    val q = EventStreams.enrich(mem.toDF(), dim, "cust_id")
      .select(col("event_id"), col("user_id"), col("tier"))
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode("append").start()
    def ev(id: Long, user: Long) = UserState.Event(
      id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), user, "x", 1.0)
    mem.addData(ev(1, 7), ev(2, 9)) // user 9 has no dim row
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_enrich")
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(rows(1L).contains("gold"))
    assert(rows(2L).isEmpty, "unmatched stream rows must survive (left outer)")
  }

  test("stream-stream interval join: bounded state, batch-equivalent result") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[UserState.Event]
    def ev(id: Long, user: Long, minute: Int) = UserState.Event(
      id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
      user, "click", minute.toDouble)

    val joined = EventStreams.intervalJoin(mem.toDF(), mem.toDF(),
      "10 minutes", "15 minutes")
    val q = joined.writeStream.format("memory").queryName("t_interval")
      .outputMode("append").start()
    mem.addData(ev(1, 7, 0), ev(2, 7, 10), ev(3, 7, 20), ev(4, 9, 5))
    q.processAllAvailable()
    q.stop()
    // pairs (l,r) same user, 0 <= r-l < 15min, l != r:
    // (1,2): 10min ok; (2,3): 10min ok; (1,3): 20min too far; user 9 alone.
    val pairs = spark.table("t_interval")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"got $pairs")
  }

  test("dropDuplicatesWithinWatermark: cross-batch dedup by event_id") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[UserState.Event]
    def ev(id: Long, minute: Int) = UserState.Event(
      id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
      7L, "click", 1.0)

    val deduped = EventStreams.dedupWithinWatermark(mem.toDF(), "1 hour")
    val q = deduped.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    mem.addData(ev(1, 0), ev(2, 5))
    q.processAllAvailable()
    mem.addData(ev(1, 10), ev(3, 15)) // id=1 again, within the watermark
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"dup survived: $ids")
  }

  test("mapGroupsWithState: running per-user profiles across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[UserState.Event]
    def ev(id: Long, user: Long, v: Double) = UserState.Event(
      id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), user, "x", v)

    val q = UserState.profiles(spark, mem.toDS()).writeStream
      .format("memory").queryName("t_profiles")
      .outputMode(UserState.outputMode).start()
    mem.addData(ev(1, 1, 2.0), ev(2, 1, 3.0), ev(3, 2, 5.0))
    q.processAllAvailable()
    mem.addData(ev(4, 1, 10.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("t_profiles")
      .groupBy(col("user_id")).agg(max(col("n_events")).as("n"),
        max(col("total_value")).as("tv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(last(1L) == ((3L, 15.0)))
    assert(last(2L) == ((1L, 5.0)))
  }

  test("flatMapGroupsWithState sessionizer: in-batch close and timeout close") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[UserState.Event]
    def ev(id: Long, user: Long, hhmm: String, v: Double) = UserState.Event(
      id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), user, "x", v)

    val q = Sessionizer
      .closedSessions(spark, mem.toDS(), "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("t_sessionizer")
      .outputMode("append").start()

    // user 7: two events 5 min apart (one session)
    mem.addData(ev(1, 7, "10:00", 1.0), ev(2, 7, "10:05", 2.0))
    q.processAllAvailable()
    // user 7 again at 11:00 — 55 min gap → first session closes in-batch
    mem.addData(ev(3, 7, "11:00", 4.0))
    q.processAllAvailable()
    // other user far in the future — watermark passes 11:00+30m →
    // user 7's second session closes via event-time timeout
    mem.addData(ev(9, 8, "13:00", 0.5))
    q.processAllAvailable()
    // one more batch so the timeout fires after the watermark update
    mem.addData(ev(10, 8, "13:01", 0.5))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("t_sessionizer")
      .filter(col("user_id") === 7L)
      .select("n_events", "total_value", "first_event", "last_event")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows.contains((2, 3.0, 1L, 2L)), s"in-batch close missing: $rows")
    assert(rows.contains((1, 4.0, 3L, 3L)), s"timeout close missing: $rows")
  }

  test("sessionizer merge: late in-gap event widens session_start backwards") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val gapMs = 30L * 60 * 1000
    def ev(id: Long, hhmm: String) = UserState.Event(
      id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), 7L, "x", 1.0)

    // Batch 1 seeds state at 10:10; batch 2 delivers a LATE event at 10:00
    // (within the gap). The merged session must span 10:00..10:10.
    val st = TestGroupState.create[Sessionizer.SessionState](
      org.apache.spark.api.java.Optional.empty(),
      GroupStateTimeout.EventTimeTimeout, 0L,
      org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    Sessionizer.update(gapMs)(7L, Iterator(ev(1, "10:10")), st).toSeq
    Sessionizer.update(gapMs)(7L, Iterator(ev(2, "10:00")), st).toSeq
    val s = st.get
    assert(s.startMs == java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime,
      s"late event did not lower startMs: $s")
    assert(s.lastMs == java.sql.Timestamp.valueOf("2024-01-01 10:10:00").getTime)
    assert(s.n == 2)
    // first/last event ids must be consistent with the widened bounds:
    // the late 10:00 event is now the FIRST event, and last_event must
    // stay the 10:10 event (the late arrival doesn't advance lastMs).
    assert(s.firstEvent == 2L, s"late event should become firstEvent: $s")
    assert(s.lastEvent == 1L, s"lastEvent must not regress to the late event: $s")
  }

  test("sessionizer: timestamp ties resolve by event_id, not arrival batch") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val gapMs = 30L * 60 * 1000
    def ev(id: Long) = UserState.Event(
      id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "x", 1.0)
    def run(batches: Seq[Seq[Long]]): (Long, Long) = {
      val st = TestGroupState.create[Sessionizer.SessionState](
        org.apache.spark.api.java.Optional.empty(),
        GroupStateTimeout.EventTimeTimeout, 0L,
        org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
      batches.foreach(b =>
        Sessionizer.update(gapMs)(7L, b.iterator.map(ev), st).toSeq)
      (st.get.firstEvent, st.get.lastEvent)
    }
    // Same event SET at one timestamp, three different batch layouts —
    // the session must resolve to (min id, max id) in every one.
    val layouts = Seq(
      Seq(Seq(5L), Seq(2L), Seq(9L)),
      Seq(Seq(9L, 2L, 5L)),
      Seq(Seq(2L, 9L), Seq(5L)))
    assert(layouts.map(run).distinct == List((2L, 9L)),
      s"tie-break must be batch-layout independent: ${layouts.map(run)}")
  }

  test("streaming promote: checkpoint processes each file exactly once") {
    val cat = graft.pipeline.ZoneCatalog(TempDirs.create("graft-spromote"))
    val sp = new StreamingPromote(spark, cat, TempDirs.create("graft-ckpt"))
    def writeTrips(name: String, n: Int): Unit =
      land(cat, name, (1 to n).map(i => trip((i % 3 + 1).toLong, 10.0)))

    writeTrips("f1.parquet", 4)
    sp.runAvailableNow()
    assert(spark.read.parquet(sp.silverTable).count() == 4)

    writeTrips("f2.parquet", 3)
    sp.runAvailableNow() // same checkpoint: f1 must not be reprocessed
    assert(spark.read.parquet(sp.silverTable).count() == 7,
      "file-source checkpoint must process each file exactly once")
  }

  test("streaming promote: maxFilesPerTrigger batches files (debounce analog)") {
    val cat = graft.pipeline.ZoneCatalog(TempDirs.create("graft-sbatch"))
    val ckpt = TempDirs.create("graft-sbatch-ckpt")
    val sp = new StreamingPromote(spark, cat, ckpt)
    def oneTrip(name: String): Unit = land(cat, name, Seq(trip(1L, 10.0)))
    oneTrip("a.parquet"); oneTrip("b.parquet"); oneTrip("c.parquet")
    sp.runAvailableNow(maxFilesPerTrigger = Some(1))
    assert(spark.read.parquet(sp.silverTable).count() == 3)
    // one committed offset file per micro-batch → 3 batches of 1 file
    val batches = new java.io.File(s"$ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches == 3, s"expected 3 one-file micro-batches, got $batches")
  }

  test("streaming promote: processing-time daemon bounds every batch") {
    val cat = graft.pipeline.ZoneCatalog(TempDirs.create("graft-sdaemon"))
    val ckpt = TempDirs.create("graft-sdaemon-ckpt")
    val sp = new StreamingPromote(spark, cat, ckpt)
    def oneTrip(name: String): Unit = land(cat, name, Seq(trip(1L, 10.0)))
    (1 to 4).foreach(i => oneTrip(s"d$i.parquet"))
    // Long-running form: the caller owns the query; a short interval keeps
    // the test fast while the file cap does the rate limiting.
    val q = sp.runMicroBatch("50 milliseconds", maxFilesPerTrigger = Some(2))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(sp.silverTable).count() == 4)
      // Every committed micro-batch ingested at most the file cap (2 files
      // x 1 row each): numInputRows per batch is the backpressure proof.
      val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(perBatch.nonEmpty)
      assert(perBatch.forall(_ <= 2),
        s"every batch must respect maxFilesPerTrigger: ${perBatch.mkString(",")}")
      assert(perBatch.sum == 4)
    } finally q.stop()
  }

  test("streaming promote applies the batch clean rule") {
    val cat = graft.pipeline.ZoneCatalog(TempDirs.create("graft-sclean"))
    // trip_distance is the row id: 1-3 are valid (a zero fare and a
    // one-second trip sit on the rules' edges), 4-6 each break one rule.
    land(cat, "drop.parquet", Seq(
      trip(1L, 10.0, distance = 1),
      trip(2L, 0.0, distance = 2),
      trip(3L, 7.5, dropoff = "10:00:01", distance = 3),
      trip(null, 10.0, distance = 4),                      // no payment_type
      trip(1L, -0.5, distance = 5),                        // negative fare
      trip(2L, 10.0, dropoff = "10:00:00", distance = 6))) // zero duration
    val sp = new StreamingPromote(spark, cat,
      TempDirs.create("graft-sclean-ckpt"))
    sp.runAvailableNow()
    val promote = new graft.pipeline.Promote(spark, cat,
      new graft.pipeline.ProcessedLog(spark, cat.processedLog,
        graft.pipeline.SystemClock))
    assert(promote.run().size == 1)
    def ids(table: String): Seq[Double] =
      spark.read.parquet(table).select("trip_distance").collect()
        .map(_.getDouble(0)).sorted.toSeq
    assert(ids(sp.silverTable) == Seq(1.0, 2.0, 3.0),
      "the stream must drop exactly the rows the batch clean rule drops")
    assert(ids(promote.silverTable) == Seq(1.0, 2.0, 3.0))
  }

  test("snapshot upsert: streaming MERGE == batch latest-wins; replay of " +
      "a committed batch is byte-idempotent") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = TempDirs.create("graft-snap")
    val ckpt = TempDirs.create("graft-snap-ckpt")
    def ev(id: Long, user: Long, minute: Int, typ: String, v: Double) =
      UserState.Event(id,
        java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        user, typ, v)
    val b1 = Seq(ev(1, 1, 1, "view", 1.0), ev(2, 2, 2, "click", 2.0),
      ev(3, 1, 3, "purchase", 3.0))
    val b2 = Seq(ev(4, 2, 4, "error", 4.0), ev(5, 3, 5, "signup", 5.0),
      // same ts as event 4 for user 2: the event_id tiebreak must win
      ev(6, 2, 4, "view", 6.0))
    val mem = MemoryStream[UserState.Event]
    val q = SnapshotUpsert.run(mem.toDS(), dir, ckpt)
    mem.addData(b1: _*)
    q.awaitTermination()
    val q2 = SnapshotUpsert.run(mem.toDS(), dir, ckpt)
    mem.addData(b2: _*)
    q2.awaitTermination()

    def snap(): Map[Long, (String, Double, java.sql.Timestamp)] =
      SnapshotUpsert.readSnapshot(spark, dir).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getDouble(2), r.getTimestamp(3)))).toMap
    // batch reference: latest-wins by (ts, event_id) over ALL events
    val expect = (b1 ++ b2).groupBy(_.user_id).view.mapValues(es =>
      es.maxBy(e => (e.ts.getTime, e.event_id)))
      .map { case (u, e) => u -> ((e.event_type, e.value, e.ts)) }.toMap
    assert(snap() == expect)
    assert(snap()(2L)._1 == "view", "ts tie must resolve by event_id")

    // crash-replay: re-merge the LAST batch with its committed id — the
    // merge must read only versions below it and reproduce the same rows
    val before = snap()
    SnapshotUpsert.mergeBatch(spark, dir, b2.toDF(), 1L)
    assert(snap() == before, "replaying a committed batch must be a no-op")

    // an EMPTY micro-batch (trigger fired with nothing to read) must
    // carry the snapshot forward unchanged, not truncate it
    SnapshotUpsert.mergeBatch(spark, dir,
      spark.createDataFrame(Seq.empty[UserState.Event]), 2L)
    assert(snap() == before, "an empty batch must be a snapshot no-op")
  }

  test("streaming incremental dedup == q58 batch when arrival order is " +
      "doc order (ledger as initial state)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val ledger = DedupStream
      .fingerprinted(docs.filter(col("doc_id") < 250))
      .select(col("fp")).distinct()
    val incoming = docs.filter(col("doc_id") >= 250)
      .as[DedupStream.RawDoc].collect().sortBy(_.doc_id)
    // three micro-batches in doc order — the regime where streaming
    // first-arrival equals the batch operator's smallest-doc_id rule
    val batches = incoming.grouped((incoming.length + 2) / 3).toSeq

    val mem = MemoryStream[DedupStream.RawDoc]
    val q = DedupStream.admitted(spark, mem.toDF(), ledger)
      .writeStream.format("memory").queryName("t_incdedup")
      .outputMode("append").start()
    batches.foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("t_incdedup")
      .select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val expected = queries.Registry.byName("q58_incremental_dedup")
      .run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got.nonEmpty)
    assert(got == expected,
      s"stream/batch divergence: only-stream=${got -- expected} " +
        s"only-batch=${expected -- got}")
  }

  test("streaming incremental dedup: cross-batch and ledger duplicates " +
      "drop; first arrival wins within a batch") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def doc(id: Long, text: String) =
      DedupStream.RawDoc(id, text, "en", text.length.toLong)
    val ledger = DedupStream.fingerprinted(
      Seq(doc(1, "known corpus text")).toDF())
      .select(col("fp"))

    val mem = MemoryStream[DedupStream.RawDoc]
    val q = DedupStream.admitted(spark, mem.toDF(), ledger)
      .writeStream.format("memory").queryName("t_incdedup2")
      .outputMode("append").start()
    // batch 1: a ledger dup (token-set match incl. order/multiplicity
    // normalization), a fresh doc, and an in-batch dup pair
    mem.addData(
      doc(10, "corpus known text known"), // ledger dup (normalized)
      doc(11, "fresh document one"),
      doc(13, "pair text"), doc(12, "text pair text"))
    q.processAllAvailable()
    // batch 2: cross-batch dup of doc 11's content + one new doc
    mem.addData(doc(20, "one document fresh"), doc(21, "brand new"))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("t_incdedup2").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(11L, 12L, 21L),
      s"expected ledger/cross-batch dups dropped, min-id in-batch win: $ids")
  }

  test("streaming quality gate: frozen batch-trained model scores the " +
      "stream statelessly, bit-equal to batch") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // train once in batch; freeze as the deployable 256-entry map
    val weights = queries.Selection.gateWeights(spark, sfDir)
      .collect().map(r => r.getAs[Long]("bucket").toInt ->
        r.getAs[Double]("w")).toMap
    // only OCCUPIED buckets carry weights (31 at sf0.001's vocab);
    // tokens hashing to unseen buckets are excluded from score AND
    // n_tokens (q313's inner-join semantics — see the cold-bucket test)
    assert(weights.nonEmpty && weights.size <= 256)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .as[DedupStream.RawDoc].collect().sortBy(_.doc_id)
    val mem = MemoryStream[DedupStream.RawDoc]
    val stream = GateStream.scored(mem.toDF(), weights)
      .select("doc_id", "n_tokens", "score", "keep")
    // stateless: append mode with NO watermark must be accepted
    val q = stream.writeStream.format("memory").queryName("t_gate")
      .outputMode("append").start()
    docs.grouped(200).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    // a whitespace-only ingest row must not kill the stream (ANSI
    // divide-by-zero guard) and must score keep = false
    mem.addData(DedupStream.RawDoc(-1L, "  ", "en", 2L))
    q.processAllAvailable()
    q.stop()

    val empty = spark.table("t_gate").filter(col("doc_id") === -1L)
      .select("n_tokens", "keep").head()
    assert(empty.getLong(0) === 0L && !empty.getBoolean(1))

    val got = spark.table("t_gate").filter(col("doc_id") >= 0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))).toMap
    val expect = GateStream.scored(
        spark.read.parquet(s"$sfDir/documents.parquet"), weights)
      .select("doc_id", "n_tokens", "score", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))).toMap
    assert(got.size === expect.size)
    assert(got == expect, "per-doc stream scores must be bit-equal to " +
      "the same expression in batch")
    // the streaming plan must be a stateless map — no state store op
    val p = GateStream.scored(mem.toDF(), weights)
      .queryExecution.analyzed.toString
    assert(!p.contains("flatMapGroupsWithState") && !p.contains("Dedup"),
      "scoring must not introduce stateful operators:\n" + p)
  }

  test("streaming near-dup admission: band-keyed state with the corpus " +
      "index as initial state reproduces q324's verified pairs") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch reference: q324's verified (new_doc, matched_doc, jaccard)
    val ref = queries.Registry.byName("q324_incremental_neardup")
      .run(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(ref.nonEmpty, "fixture must contain near-dup pairs")

    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val corpus = all.filter(col("doc_id") < 250)
    val batchDocs = all.filter(col("doc_id") >= 250)
      .as[DedupStream.RawDoc].collect().sortBy(_.doc_id)
    val mem = MemoryStream[DedupStream.RawDoc]
    val q = NearDupStream.matches(spark, mem.toDF(), corpus)
      .writeStream.format("memory").queryName("t_neardup")
      .outputMode("append").start()
    // several micro-batches, fed in id order (= the batch operator's
    // doc_a < doc_b discipline, see NearDupStream's emission contract)
    batchDocs.grouped(60).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    // toMap collapses the per-band evidence rows (identical jaccard)
    val got = spark.table("t_neardup").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got.keySet === ref.keySet,
      "streaming pair set must equal q324's verified pairs")
    got.foreach { case (k, j) =>
      assert(j === ref(k), s"jaccard for $k must be bit-equal") }
    // admitted-set parity: a doc is admitted iff it emitted no evidence
    val newIds = batchDocs.map(_.doc_id).toSet
    assert((newIds -- got.keySet.map(_._1))
        === (newIds -- ref.keySet.map(_._1)),
      "admitted sets must agree")
  }

  test("streaming quality gate: frozen model on out-of-training data " +
      "matches q313's inner-join cold-bucket semantics") {
    import spark.implicits._
    // The production shape: the model is trained on yesterday's corpus
    // and applied to today's ingest, whose tokens may hash to buckets
    // the model never saw. q313's batch scorer inner-joins (doc, bucket)
    // features to the model, so cold-bucket tokens vanish from BOTH the
    // score and n_tokens; GateStream must agree.
    val bucketOf: String => Int = { t =>
      spark.sql("SELECT cast(" +
          queries.Selection.gateBucketSpark(s"'${t}'") + " as int) AS b")
        .head().getInt(0)
    }
    // two tokens in distinct buckets; freeze a model that knows only one
    val (warm, cold) = ("alpha", "omega")
    assert(bucketOf(warm) != bucketOf(cold), "fixture tokens must differ")
    val weights = Map(bucketOf(warm) -> 2.5)
    val docs = Seq(
      (1L, s"$warm $cold $warm"), // 2 warm + 1 cold token
      (2L, s"$cold $cold")        // all-cold: unscorable
    ).toDF("doc_id", "text")
    val got = GateStream.scored(docs, weights)
      .select("doc_id", "n_tokens", "score", "keep").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // q313 semantics: cold tokens excluded from numerator AND denominator
    assert(got(1L) === ((2L, 5.0, true)),
      s"warm-doc: expected (2, 5.0, true), got ${got(1L)}")
    // all-cold doc: n_tokens = 0, never keeps, and must not throw (ANSI)
    assert(got(2L) === ((0L, 0.0, false)),
      s"all-cold doc: expected (0, 0.0, false), got ${got(2L)}")

    // cross-check against the literal inner-join formulation of q313:
    // explode tokens, join to the model frame, aggregate
    val model = Seq((bucketOf(warm), 2.5)).toDF("bucket", "w")
    val byJoin = docs
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), x -> x != '')"))
          .as("term"))
      .withColumn("bucket",
        expr(s"cast(${queries.Selection.gateBucketSpark("term")} as int)"))
      .join(model, "bucket") // inner: cold buckets drop
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byJoin(1L) === ((2L, 5.0)) && !byJoin.contains(2L),
      "inner-join reference must agree (all-cold doc produces no row)")
  }

  test("streaming CMS: counters after 3 micro-batches equal the batch " +
      "grid cell-for-cell; estimates never underestimate") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchEvents = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"))
    val evs = batchEvents.as[SketchStream.Ev].collect().sortBy(_.event_id)
    val batches = evs.grouped((evs.length + 2) / 3).toSeq
    assert(batches.length == 3)

    val mem = MemoryStream[SketchStream.Ev]
    val q = SketchStream.counters(spark, mem.toDF())
      .writeStream.format("memory").queryName("t_cms")
      .outputMode("update").start()
    batches.foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // counters are monotone, so the final grid is the max per cell over
    // the Update-mode emissions
    val got = spark.table("t_cms")
      .groupBy(col("i"), col("b")).agg(max(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val expected = SketchStream.points(batchEvents)
      .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.nonEmpty)
    assert(got == expected,
      s"stream/batch grid divergence: only-stream=${got.toSet -- expected.toSet} " +
        s"only-batch=${expected.toSet -- got.toSet}")

    // the CMS guarantee on the streamed grid: min-of-D probe per key
    // never underestimates the exact count
    val h = graft.functions.Portable
      .h64Spark("concat(k, '#', cast(i as string))")
    val grid = spark.table("t_cms")
      .groupBy(col("i"), col("b")).agg(max(col("c")).as("c"))
    val exact = batchEvents.groupBy(col("event_type").as("k"))
      .agg(count(lit(1)).as("exact_n"))
    val bad = exact
      .select(col("k"), col("exact_n"),
        explode(expr(s"sequence(0, ${queries.Quality.CmsD - 1})")).as("i"))
      .select(col("k"), col("exact_n"), col("i"),
        expr(s"($h) % ${queries.Quality.CmsW}").as("b"))
      .join(grid, Seq("i", "b"))
      .groupBy(col("k"), col("exact_n"))
      .agg(min(col("c")).as("cms_est"))
      .filter(col("cms_est") < col("exact_n"))
    assert(bad.isEmpty, "CMS must never underestimate: " +
      bad.collect().mkString(", "))
  }

  test("streaming HLL: registers after 3 micro-batches equal the batch " +
      "grid register-for-register (and thus estimate-exactly)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // group = returnflag, tracked value = partkey — q134's exact shape
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_returnflag").as("g"), col("l_partkey").as("v"))
    val evs = li.as[HllStream.Ev].collect()
      .sortBy(e => (e.g, e.v))
    val batches = evs.grouped((evs.length + 2) / 3).toSeq
    assert(batches.length == 3)

    val mem = MemoryStream[HllStream.Ev]
    val q = HllStream.registers(spark, mem.toDF())
      .writeStream.format("memory").queryName("t_hll")
      .outputMode("update").start()
    batches.foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // registers are monotone, so the final grid is the max per register
    // over the Update-mode emissions
    val got = spark.table("t_hll")
      .groupBy(col("g"), col("bucket")).agg(max(col("m")).as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val expected = HllStream.points(li)
      .groupBy(col("g"), col("bucket")).agg(max(col("m")).as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(got.nonEmpty)
    assert(got == expected,
      s"stream/batch register divergence: " +
        s"only-stream=${got.toSet -- expected.toSet} " +
        s"only-batch=${expected.toSet -- got.toSet}")
  }

  test("streaming semantic dedup (maxDepth=4 parity mode): cell-keyed " +
      "state with the corpus index as initial state reproduces q354's " +
      "admission decisions, and stream-vs-stream matches equal the " +
      "batch new x new recomputation") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch reference: q354's (vec_id, cell, admitted, dup_of, n_matches)
    val ref = queries.Registry.byName("q354_incremental_semdedup")
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    assert(ref.nonEmpty, "fixture must contain a new batch")
    assert(ref.values.exists(!_._2), "fixture must contain rejects")
    assert(ref.values.exists(_._2), "fixture must contain admissions")

    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = all.filter(col("vec_id") < 250)
    val batchVecs = all.filter(col("vec_id") >= 250)
      .as[SemDedupStream.RawVec].collect().sortBy(_.vec_id)
    val mem = MemoryStream[SemDedupStream.RawVec]
    // maxDepth = 4 degenerates the trie keying to the fixed 4-plane cell
    // — the pinned q354 oracle space this leg proves bit-parity with.
    // streamCap = MaxValue (round-14 knob split): parity is exact only
    // below the stream saturation cap (the boundedness trade, quantified
    // in its own test), and a modal 4-plane cell here can hold >
    // DefaultCap arrivals — uncapping ONLY the stream side no longer
    // touches corpus leaf shaping.
    val q = SemDedupStream.matches(spark, mem.toDF(), corpus,
      maxDepth = 4, streamCap = Int.MaxValue)
      .writeStream.format("memory").queryName("t_semdedup")
      .outputMode("append").start()
    // several micro-batches, fed in id order (= the batch operator's
    // lower-id-is-earlier discipline, see the emission contract)
    batchVecs.grouped(60).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val raw = spark.table("t_semdedup").collect()
    assert(raw.forall(_.getInt(2) == 4), "parity mode must key at depth 4")
    val got = raw
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))

    // leg 1 — corpus-sourced evidence aggregates to q354's decisions
    val corpusEv = got.filter(_._2 < 250).groupBy(_._1)
    val newIds = batchVecs.map(_.vec_id)
    newIds.foreach { id =>
      val (cell, admitted, dupOf, nMatches) = ref(id)
      corpusEv.get(id) match {
        case None =>
          assert(admitted && nMatches == 0L,
            s"vec $id: stream admitted but q354 rejected")
        case Some(ev) =>
          assert(!admitted, s"vec $id: stream rejected but q354 admitted")
          assert(ev.map(_._2).min == dupOf,
            s"vec $id: canonical duplicate differs")
          assert(ev.size.toLong == nMatches,
            s"vec $id: corpus match count differs")
          assert(ev.forall(_._3 == cell), s"vec $id: cell differs")
      }
    }

    // leg 2 — stream-vs-stream evidence (the online extension q354's
    // one-shot frame doesn't model) equals the batch new x new
    // recomputation over the SAME cells, cosines bit-equal
    val qc = queries.Similarity.quantCell4(all)
      .filter(col("vec_id") >= 250).cache()
    val a = qc.select(col("vec_id").as("m_id"), col("cell"),
      col("qv").as("qv_a"), col("nsq").as("nsq_a"))
    val b = qc.select(col("vec_id").as("n_id"), col("cell").as("cell_b"),
      col("qv").as("qv_b"), col("nsq").as("nsq_b"))
    val expected = a.join(b, col("cell") === col("cell_b")
        && col("m_id") < col("n_id"))
      .withColumn("c", expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)"))
      .filter(col("c") >= queries.Similarity.SemThreshold)
      .select(col("n_id"), col("m_id"), col("c")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val gotNn = got.filter(_._2 >= 250)
      .map(t => ((t._1, t._2), t._4)).toMap
    assert(gotNn.keySet === expected.keySet,
      "stream-vs-stream pair set must equal the batch new x new pairs")
    gotNn.foreach { case (k, c) =>
      assert(c === expected(k), s"cosine for $k must be bit-equal") }
  }

  test("streaming semantic dedup (default trie mode): corpus evidence " +
      "equals the batch trie-leaf recomputation, stream-vs-stream " +
      "evidence equals the batch same-12-bit-prefix ∪ same-corpus-leaf " +
      "recomputation") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = all.filter(col("vec_id") < 250)
    val newDf = all.filter(col("vec_id") >= 250)
    val batchVecs = newDf.as[SemDedupStream.RawVec].collect()
      .sortBy(_.vec_id)
    val mem = MemoryStream[SemDedupStream.RawVec]
    val q = SemDedupStream.matches(spark, mem.toDF(), corpus)
      .writeStream.format("memory").queryName("t_semdedup_trie")
      .outputMode("append").start()
    batchVecs.grouped(60).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    val stateRows = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)
    q.stop()
    val got = spark.table("t_semdedup_trie").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(4)))
    assert(got.forall(t => t._3 >= 4 && t._3 <= 12))

    // state-row guard: keys = corpus trie leaves ∪ arrivals' depth-12
    // prefixes (arrivals store at the finest prefix, and their other
    // storage cell — the corpus leaf — is already a corpus key) — an
    // independent recomputation of the state-key space
    val shift = queries.Similarity.CellEncShift
    val corpusKeys = SemDedupStream.corpusLeaves(corpus)
      .select((col("depth").cast("long") * shift + col("cell")).as("k"))
      .collect().map(_.getLong(0)).toSet
    val arrivalKeys = queries.Similarity.quantSig(newDf)
      .select(expr(s"12 * ${shift}L + (sig & 4095)").as("k"))
      .collect().map(_.getLong(0)).toSet
    assert(stateRows == (corpusKeys ++ arrivalKeys).size.toLong,
      s"state rows $stateRows != expected key-space size " +
        s"${(corpusKeys ++ arrivalKeys).size}")

    // leg 1 — corpus evidence = batch recomputation on the trie-leaf
    // candidate rule: an arrival is a candidate of every corpus member
    // whose leaf cell is a prefix of the arrival's signature (= the one
    // corpus leaf containing the arrival, since leaf cells partition)
    val leaves = SemDedupStream.corpusLeaves(corpus)
    val memSide = queries.Similarity.quantSig(corpus).join(leaves, "vec_id")
      .select(col("vec_id").as("m_id"), col("qv").as("qv_a"),
        col("nsq").as("nsq_a"), col("depth"), col("cell"))
    val arrPaths = queries.Similarity.quantSig(newDf)
      .select(col("vec_id").as("n_id"), col("qv").as("qv_b"),
        col("nsq").as("nsq_b"),
        explode(expr("""transform(sequence(4, 12), dd ->
          struct(cast(dd AS int) AS depth,
                 sig & (shiftleft(1L, dd) - 1) AS cell))""")).as("x"))
      .select(col("n_id"), col("qv_b"), col("nsq_b"),
        col("x.depth").as("depth"), col("x.cell").as("cell"))
    val expCorpus = arrPaths.join(memSide, Seq("depth", "cell"))
      .withColumn("c", expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)"))
      .filter(col("c") >= queries.Similarity.SemThreshold)
      .select(col("n_id"), col("m_id"), col("c")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val gotCorpus = got.filter(_._2 < 250)
      .map(t => ((t._1, t._2), t._4)).toMap
    assert(gotCorpus.keySet === expCorpus.keySet,
      "stream-vs-corpus pair set must equal the batch trie-leaf pairs")
    gotCorpus.foreach { case (k, c) =>
      assert(c === expCorpus(k), s"cosine for $k must be bit-equal") }
    assert(gotCorpus.nonEmpty, "fixture must exercise the corpus leg")

    // leg 2 — stream-vs-stream evidence = batch new x new pairs sharing
    // the full depth-12 prefix (the finest storage grain) ∪ pairs
    // sharing a CORPUS LEAF cell (round-13: arrivals also store at
    // their corpus leaf, closing the corpus-grain recall asymmetry).
    // The equality claim needs every storage cell under the stream cap
    // — assert that precondition explicitly.
    val nq = queries.Similarity.quantSig(newDf)
      .withColumn("p12", expr("sig & 4095")).cache()
    val maxPer12 = nq.groupBy(col("p12")).count()
      .agg(max(col("count"))).first().getLong(0)
    assert(maxPer12 <= SemDedupStream.DefaultCap,
      s"fixture must stay under the stream cap per depth-12 prefix " +
        s"(got $maxPer12) for the under-cap equality claim")
    val a = nq.select(col("vec_id").as("m_id"), col("p12"),
      col("qv").as("qv_a"), col("nsq").as("nsq_a"))
    val b = nq.select(col("vec_id").as("n_id"), col("p12").as("p12_b"),
      col("qv").as("qv_b"), col("nsq").as("nsq_b"))
    val prefixPairs = a.join(b, col("p12") === col("p12_b")
        && col("m_id") < col("n_id"))
      .withColumn("c", expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)"))
      .filter(col("c") >= queries.Similarity.SemThreshold)
      .select(col("n_id"), col("m_id"), col("c")).collect()
    // corpus-leaf grain: each arrival has <= 1 corpus leaf on its path
    // (leaf cells partition the corpus); pairs sharing that leaf
    val leafCells = leaves.select(col("depth"), col("cell")).distinct()
    val arrLeaf = arrPaths.join(leafCells, Seq("depth", "cell")).cache()
    val maxPerLeaf = arrLeaf.groupBy(col("depth"), col("cell")).count()
      .agg(coalesce(max(col("count")), lit(0L))).first().getLong(0)
    assert(maxPerLeaf <= SemDedupStream.DefaultCap,
      s"fixture must stay under the stream cap per corpus leaf " +
        s"(got $maxPerLeaf) for the under-cap equality claim")
    val leafPairs = arrLeaf
      .select(col("n_id").as("m_id"), col("depth"), col("cell"),
        col("qv_b").as("qv_a"), col("nsq_b").as("nsq_a"))
      .join(arrLeaf, Seq("depth", "cell"))
      .filter(col("m_id") < col("n_id"))
      .withColumn("c", expr("qcosine(qv_a, qv_b, nsq_a, nsq_b)"))
      .filter(col("c") >= queries.Similarity.SemThreshold)
      .select(col("n_id"), col("m_id"), col("c")).collect()
    val expNn = (prefixPairs ++ leafPairs)
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val gotNn = got.filter(_._2 >= 250).map(t => ((t._1, t._2), t._4)).toMap
    assert(gotNn.keySet === expNn.keySet,
      "stream-vs-stream pair set must equal the same-prefix ∪ " +
        "same-corpus-leaf batch pairs: " +
        s"only-stream=${gotNn.keySet -- expNn.keySet} " +
        s"only-batch=${expNn.keySet -- gotNn.keySet}")
    gotNn.foreach { case (k, c) =>
      assert(c === expNn(k), s"cosine for $k must be bit-equal") }
  }

  test("streaming semantic dedup saturation: a hot stream prefix stops " +
      "growing state at cap — per-arrival work and per-key state stay " +
      "bounded, later arrivals still verify against the cap exemplars") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 120 near-identical vectors (same base + tiny id-proportional nudge
    // on one coordinate): all share every sign prefix, i.e. ONE hot
    // depth-12 storage cell — the adversarial shape whose state grew
    // with stream mass before round 13
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val hot = (1L to 120L).map { i =>
      val v = base.clone(); v(0) = v(0) + i.toFloat * 1e-6f
      SemDedupStream.RawVec(i, v)
    }
    val cap = 8
    val mem = MemoryStream[SemDedupStream.RawVec]
    val empty = spark.createDataset(Seq.empty[SemDedupStream.RawVec]).toDF()
    val q = SemDedupStream.matches(spark, mem.toDF(), empty, cap = cap)
      .writeStream.format("memory").queryName("t_sem_sat")
      .outputMode("append").start()
    hot.grouped(30).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    val stateRows = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)
    q.stop()
    val got = spark.table("t_sem_sat").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // sanity: the vectors are genuine near-dups (cosine ~1 >= threshold)
    assert(got.nonEmpty, "hot fixture must produce matches")
    // only the first `cap` arrivals are ever stored, so every match's
    // earlier side is an exemplar — and every LATER arrival still emits
    // exactly cap matches (the verify-only leg keeps working)
    assert(got.forall(_._2 <= cap),
      s"matched side must be one of the first $cap stored exemplars: " +
        s"${got.filter(_._2 > cap).take(5).toSeq}")
    val perArrival = got.groupBy(_._1).map { case (_, v) => v.length }
    assert(perArrival.max <= cap,
      s"per-arrival verify work must be <= cap, got ${perArrival.max}")
    (cap + 1 to 120).foreach { i =>
      assert(got.count(_._1 == i.toLong) == cap,
        s"arrival $i must verify against exactly $cap exemplars")
    }
    // state: ONE hot storage cell holding cap members (the depth-12
    // prefix; no corpus, so no leaf cells exist)
    assert(stateRows == 1L,
      s"hot prefix must occupy exactly one state key, got $stateRows")
  }

  test("streaming semantic dedup saturation divergence is quantified " +
      "(round-13 verdict #3): on a hot near-dup cluster admissions " +
      "still equal the batch trie recomputation and every missed pair " +
      "is post-saturation; on an adversarial second cluster in the " +
      "saturated cell the admission divergence is the measured trade") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cap = 8
    val dims = 64
    val threshold = queries.Similarity.SemThreshold // 0.4
    // Fixture, constructed in signature space: cluster A (16 near-dups
    // of base u, ids 1..16) saturates the one depth-12 storage cell at
    // cap 8; cluster B (8 near-dups of w, ids 17..24) then arrives in
    // the SAME cell — w = eps*u + delta with delta orthogonal (real
    // math) to u and to planes 0..11, so w shares u's low-12 sign
    // prefix while cosine(u, w) ~ eps, far below the 0.4 threshold.
    // The seed loop below picks the first seed where QUANTIZED-grid
    // signatures and cosines confirm the construction (round-half-away
    // replica of Portable.qvecSpark), then is deterministic forever.
    val planes12 = queries.Similarity.planeWeights.take(12)
      .map(_.toArray).toArray
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until dims).map(i => a(i) * b(i)).sum
    def qz(x: Float): Long = BigDecimal(x.toDouble * 1000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def qcos(a: Array[Float], b: Array[Float]): Double = {
      val (qa, qb) = (a.map(qz), b.map(qz))
      val d = (0 until dims).map(i => qa(i) * qb(i)).sum
      d.toDouble / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
    }
    def cell12(a: Array[Float]): Long = {
      val qa = a.map(qz)
      (0 until 12).map { p =>
        val pr = (0 until dims).map(i => qa(i) * planes12(p)(i)).sum
        if (pr >= 0) 1L << p else 0L
      }.sum
    }
    def build(seed: Int): Option[(Seq[Array[Float]], Seq[Array[Float]])] = {
      val rnd = new scala.util.Random(seed)
      val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      def addBasis(x: Array[Double]): Unit = {
        val y = x.clone()
        basis.foreach { b =>
          val c = dot(y, b)
          (0 until dims).foreach(i => y(i) -= c * b(i))
        }
        val n = math.sqrt(dot(y, y))
        if (n > 1e-9) basis += y.map(_ / n)
      }
      planes12.foreach(p => addBasis(p.map(_.toDouble)))
      val u = Array.fill(dims)(rnd.nextDouble() * 2 - 1)
      addBasis(u)
      val v = Array.fill(dims)(rnd.nextDouble() * 2 - 1)
      val delta = v.clone()
      basis.foreach { b =>
        val c = dot(delta, b)
        (0 until dims).foreach(i => delta(i) -= c * b(i))
      }
      val w = (0 until dims)
        .map(i => 0.15 * u(i) + delta(i)).toArray
      val a = (1 to 16).map { j =>
        val x = u.map(_.toFloat); x(0) = x(0) + j.toFloat * 1e-6f; x
      }
      val b = (1 to 8).map { j =>
        val x = w.map(_.toFloat); x(0) = x(0) + j.toFloat * 1e-6f; x
      }
      val all = a ++ b
      val ok = all.map(cell12).distinct.length == 1 &&
        a.forall(x => b.forall(y => qcos(x, y) < threshold - 0.05)) &&
        a.forall(x => a.forall(y => qcos(x, y) >= threshold)) &&
        b.forall(x => b.forall(y => qcos(x, y) >= threshold))
      if (ok) Some((a, b)) else None
    }
    val (clA, clB) = (101 to 160).view.flatMap(build).headOption
      .getOrElse(fail("no seed in 101..160 builds the two-cluster cell"))
    val vecs = (clA ++ clB).zipWithIndex
      .map { case (v, i) => SemDedupStream.RawVec(i + 1L, v) }
    val mem = MemoryStream[SemDedupStream.RawVec]
    val empty = spark.createDataset(Seq.empty[SemDedupStream.RawVec]).toDF()
    val q = SemDedupStream.matches(spark, mem.toDF(), empty, cap = cap)
      .writeStream.format("memory").queryName("t_sem_div")
      .outputMode("append").start()
    vecs.grouped(6).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val stream = spark.table("t_sem_div").collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet // (earlier, later)
    // batch recomputation at the SAME trie grain over the whole set:
    // one over-cap depth-12 remainder cell -> every >= threshold pair
    val ids = vecs.map(_.vec_id)
    val batch = (for {
      x <- vecs; y <- vecs if x.vec_id < y.vec_id
      if qcos(x.embedding, y.embedding) >= threshold
    } yield (x.vec_id, y.vec_id)).toSet
    assert(stream.subsetOf(batch),
      s"stream must never emit a pair batch lacks: ${stream -- batch}")
    // every miss is post-saturation: its EARLIER member arrived after
    // the cell held cap stream members (ids 1..cap are the exemplars)
    val missed = batch -- stream
    assert(missed.forall(_._1 > cap),
      s"missed pairs with a stored-exemplar earlier member: " +
        s"${missed.filter(_._1 <= cap)}")
    // quantified: A-A misses = C(16,2) - (C(8,2) + 8*8); B-B all missed
    assert(stream.size == cap * (cap - 1) / 2 + (16 - cap) * cap,
      s"stream pair count ${stream.size}")
    assert(missed.size == (120 - stream.size) + 28,
      s"missed pair count ${missed.size}")
    info(f"missed-pair rate at cap=$cap on the hot cell: " +
      f"${missed.size}/${batch.size} = " +
      f"${missed.size.toDouble / batch.size * 100}%.1f%% " +
      "(zero when every cluster fits under cap)")
    // admission: stream DOMINATES batch (admits a superset) — equal on
    // the hot near-dup cluster (exemplars still reject A9..A16), and
    // the divergence is EXACTLY cluster B minus its first member: B
    // arrivals meet a saturated cell whose exemplars are all cluster A
    // (cosine below threshold), so B-B duplicate evidence never forms.
    // This is the measured trade of saturation vs online cell
    // splitting: it requires >= cap prior same-cell stream members
    // from a FOREIGN cluster before the duplicate cluster arrives —
    // at the deployed cap (32) a real hot cell's own exemplars reject
    // its near-dups, as the hot-cluster leg above proves.
    def admitted(pairs: Set[(Long, Long)]): Set[Long] =
      ids.filterNot(i => pairs.exists(_._2 == i)).toSet
    val admStream = admitted(stream)
    val admBatch = admitted(batch)
    assert(admBatch.subsetOf(admStream),
      "stream admissions must dominate the batch recomputation's")
    assert(admBatch == Set(1L, 17L), s"batch admits $admBatch")
    assert(admStream -- admBatch == (18L to 24L).toSet,
      s"admission divergence must be exactly B minus its first " +
        s"member, got ${admStream -- admBatch}")
    info(s"admission divergence: ${(admStream -- admBatch).size} of " +
      s"${ids.size} vectors (the foreign-cluster-after-saturation " +
      "shape), 0 on the single hot cluster")
  }

  test("streaming media near-dup: band-keyed state reproduces the batch " +
      "q352 (image) and q378 (audio) pair sets, hamming and verdict " +
      "included, when the whole corpus is streamed in id order") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val cases = Seq(
      ("q352_media_phash_dedup",
        queries.Multimodal.imagePhash(spark, sfDir),
        queries.Multimodal.PhashThreshold),
      ("q378_audio_fingerprint_dedup",
        queries.Multimodal.audioFingerprint(spark, sfDir),
        queries.Multimodal.AudioFpThreshold))
    cases.foreach { case (qname, fpFrame, threshold) =>
      val expected = queries.Registry.byName(qname).run(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
        .toSet
      assert(expected.nonEmpty, s"$qname fixture must have candidate pairs")
      val fps = fpFrame.as[MediaDedupStream.RawFp].collect()
        .sortBy(_.media_id)
      val mem = MemoryStream[MediaDedupStream.RawFp]
      val empty = spark.emptyDataset[MediaDedupStream.RawFp].toDF()
      val q = MediaDedupStream
        .matches(spark, mem.toDF(), empty, threshold)
        .writeStream.format("memory").queryName(s"t_media_$qname")
        .outputMode("append").start()
      fps.grouped(40).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      val stateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      q.stop()
      // id-order feeding => matched_media arrived earlier = lower id =
      // the batch media_a; a pair colliding in k bands emits k rows
      val got = spark.table(s"t_media_$qname").collect()
        .map(r => (r.getLong(1), r.getLong(0), r.getInt(3), r.getBoolean(4)))
        .toSet
      assert(got === expected,
        s"$qname: stream pair set must equal the batch pair frame: " +
          s"only-stream=${got -- expected} only-batch=${expected -- got}")
      // state-row guard: every asset stored in its 4 band buckets (no
      // bucket saturates on the fixture) => keys = distinct band rows
      val expKeys = fpFrame.select(posexplode(expr(
          "transform(sequence(0, 3), j -> (shiftright(fp, 15*j) & 32767))")))
        .distinct().count()
      assert(stateRows == expKeys,
        s"$qname: state rows $stateRows != distinct band keys $expKeys")
    }
  }

  test("streaming media near-dup: corpus index as initial state yields " +
      "exactly the batch pairs that involve at least one arrival") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val fpFrame = queries.Multimodal.imagePhash(spark, sfDir).cache()
    val split = fpFrame.agg(expr("percentile_approx(media_id, 0.5)"))
      .first().getLong(0)
    val corpus = fpFrame.filter(col("media_id") < split)
    val arrivals = fpFrame.filter(col("media_id") >= split)
      .as[MediaDedupStream.RawFp].collect().sortBy(_.media_id)
    assert(arrivals.nonEmpty)
    val expected = queries.Registry
      .byName("q352_media_phash_dedup").run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .filter { case (a, b, _, _) => a >= split || b >= split }.toSet
    val mem = MemoryStream[MediaDedupStream.RawFp]
    val q = MediaDedupStream.matches(spark, mem.toDF(), corpus,
        queries.Multimodal.PhashThreshold)
      .writeStream.format("memory").queryName("t_media_corpus")
      .outputMode("append").start()
    arrivals.grouped(30).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_media_corpus").collect()
      .map { r =>
        val (n, m) = (r.getLong(0), r.getLong(1))
        (math.min(n, m), math.max(n, m), r.getInt(3), r.getBoolean(4))
      }.toSet
    assert(got === expected,
      s"only-stream=${got -- expected} only-batch=${expected -- got}")
  }

  test("streaming media near-dup: a saturated bucket stops scoring and " +
      "growing — per-arrival work stays bounded by cap on a hot bucket") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 100 assets colliding in band 0 (low 15 bits all zero), distinct in
    // bands 1-3 — the adversarial skew the batch cool-filter drops
    val fps = (1L to 100L).map(i =>
      MediaDedupStream.RawFp(i, (i << 15) | (i << 30) | (i << 45)))
    val cap = 8
    val mem = MemoryStream[MediaDedupStream.RawFp]
    val empty = spark.emptyDataset[MediaDedupStream.RawFp].toDF()
    val q = MediaDedupStream
      .matches(spark, mem.toDF(), empty, threshold = 60, cap = cap)
      .writeStream.format("memory").queryName("t_media_sat")
      .outputMode("append").start()
    fps.grouped(25).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_media_sat").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.forall(_._3 == 0), "collisions only in the hot band")
    assert(got.length === cap * (cap - 1) / 2,
      s"exactly C(cap,2) pairs before saturation, got ${got.length}")
    assert(got.forall(t => t._1 <= cap && t._2 <= cap),
      "no pair may involve an arrival after the bucket saturated")
  }

  test("streaming media near-dup saturation divergence is quantified: " +
      "the online stream dominates the batch retroactive drop on hot " +
      "buckets, and its only misses are post-saturation pairs") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cap = 8
    val threshold = queries.Multimodal.PhashThreshold // 10
    // hot bucket: 24 assets sharing band 0 (low 15 bits zero), built as
    // 12 near-dup pairs (3 flipped bits, one per other band, so a pair
    // shares ONLY the hot band); plus an under-cap bucket (band 0 = 7)
    // of 4 assets with one near-dup pair, where stream and batch agree
    def hotFp(k: Long, even: Boolean): Long = {
      val base = (((17 * k + 3) & 0x7fffL) << 15) |
        (((23 * k + 5) & 0x7fffL) << 30) | (((29 * k + 7) & 0x7fffL) << 45)
      if (even) base ^ (1L << 20) ^ (1L << 35) ^ (1L << 50) else base
    }
    val hot = (1L to 12L).flatMap(k => Seq(
      MediaDedupStream.RawFp(2 * k - 1, hotFp(k, even = false)),
      MediaDedupStream.RawFp(2 * k, hotFp(k, even = true))))
    val cool = Seq(
      MediaDedupStream.RawFp(101, 7L | (100L << 15) | (200L << 30)),
      MediaDedupStream.RawFp(102,
        7L | (100L << 15) | (200L << 30) ^ (1L << 16) ^ (1L << 31)),
      MediaDedupStream.RawFp(103, 7L | (9000L << 15) | (11000L << 30)),
      MediaDedupStream.RawFp(104,
        7L | (9000L << 15) | (11000L << 30) ^ (1L << 17) ^ (1L << 32)))
    val fps = (hot ++ cool).sortBy(_.media_id)

    def bandsOf(fp: Long) = (0 to 3).map(j => (j, (fp >> (15 * j)) & 32767L))
    type Pair = (Long, Long, Int, Boolean)
    def pair(a: (Long, Long), b: (Long, Long)): Pair = {
      val h = java.lang.Long.bitCount(a._2 ^ b._2)
      (math.min(a._1, b._1), math.max(a._1, b._1), h, h <= threshold)
    }
    // batch rule (q352's retroactive drop): pairs from buckets whose
    // FINAL occupancy is <= cap
    def batchPairs(occCap: Int): Set[Pair] = fps
      .flatMap(r => bandsOf(r.fp).map(b => b -> (r.media_id, r.fp)))
      .groupBy(_._1).values.map(_.map(_._2))
      .filter(_.size <= occCap)
      .flatMap(ms => for (a <- ms; b <- ms if a._1 < b._1) yield pair(a, b))
      .toSet
    val batch = batchPairs(cap)
    val groundTruth = batchPairs(Int.MaxValue)
    // online rule replayed exactly: a bucket at cap stops scoring AND
    // growing — the reference model for what the stream must emit
    val onlineRef = {
      val buckets = scala.collection.mutable.Map
        .empty[(Int, Long), List[(Long, Long)]]
      val out = Set.newBuilder[Pair]
      fps.foreach { r =>
        bandsOf(r.fp).foreach { b =>
          val ms = buckets.getOrElse(b, Nil)
          if (ms.size < cap) {
            ms.foreach(e => out += pair(e, (r.media_id, r.fp)))
            buckets(b) = (r.media_id, r.fp) :: ms
          }
        }
      }
      out.result()
    }
    val mem = MemoryStream[MediaDedupStream.RawFp]
    val empty = spark.emptyDataset[MediaDedupStream.RawFp].toDF()
    val q = MediaDedupStream
      .matches(spark, mem.toDF(), empty, threshold, cap = cap)
      .writeStream.format("memory").queryName("t_media_div")
      .outputMode("append").start()
    fps.grouped(5).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val stream = spark.table("t_media_div").collect()
      .map { r =>
        val (n, m) = (r.getLong(0), r.getLong(1))
        (math.min(n, m), math.max(n, m), r.getInt(3), r.getBoolean(4))
      }.toSet
    assert(stream === onlineRef, "stream must equal the online replay: " +
      s"only-stream=${stream -- onlineRef} only-ref=${onlineRef -- stream}")
    // divergence, quantified: the batch drop loses the WHOLE hot bucket;
    // the online form keeps its first `cap` members as exemplars — so
    // the stream's pair set strictly DOMINATES the batch's, and every
    // stream miss vs ground truth is a post-saturation pair (its
    // earlier member arrived after the bucket held cap members)
    assert((batch -- stream).isEmpty,
      s"batch must never find a pair the stream missed: ${batch -- stream}")
    assert((stream -- batch).nonEmpty, "fixture must exercise divergence")
    val missStream = groundTruth -- stream
    val missBatch = groundTruth -- batch
    assert(missStream.subsetOf(missBatch),
      "stream recall must dominate batch recall under saturation")
    assert(missStream.size < missBatch.size,
      "fixture must show the strict recall win")
    // a saturated bucket stops SCORING as well as growing (the work
    // bound is "skip the bucket", not "verify against cap exemplars" —
    // the SemDedupStream leg makes the other choice), so the stream's
    // misses are exactly the pairs whose LATER member reached the hot
    // bucket after it held cap members
    assert(missStream.forall { case (_, b, _, _) => b > cap },
      "stream misses must be post-saturation pairs only: " +
        s"${missStream.filter(_._2 <= cap)}")
    // the under-cap bucket agrees everywhere (the spec-pinned identity)
    val coolGt = groundTruth.filter(_._1 >= 101)
    assert(stream.filter(_._1 >= 101) === coolGt)
    assert(batch.filter(_._1 >= 101) === coolGt)
    // the measured trade at cap=8 on this fixture, recorded in SCALE.md:
    // near-dup ground truth vs what each engine keeps
    val gtNd = groundTruth.count(_._4)
    info(s"near-dup recall on over-cap fixture: ground-truth $gtNd, " +
      s"stream ${stream.count(_._4)} " +
      s"(missed ${missStream.count(_._4)}), " +
      s"batch ${batch.count(_._4)} (missed ${missBatch.count(_._4)})")
  }

  test("streaming semantic dedup state-key cardinality tracks corpus/cap " +
      "on a skewed fixture (all vectors in ONE legacy 4-plane cell), " +
      "with every sub-maxDepth leaf at or under the occupancy cap") {
    import spark.implicits._
    // deterministic synthetic vectors; rejection-sample the modal
    // 4-plane cell so the WHOLE corpus is one legacy key (the round-11
    // scale-killer shape: 16-key state ⇒ 1 live key here)
    val rnd = new scala.util.Random(42)
    val raw = (0L until 8192L).map(i =>
      SemDedupStream.RawVec(i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = spark.createDataset(raw).toDF()
    val sg = queries.Similarity.quantSig(df)
      .withColumn("c4", expr("cast(sig & 15 as int)")).cache()
    val modal = sg.groupBy(col("c4")).count()
      .orderBy(col("count").desc, col("c4")).first().getInt(0)
    val hot = sg.filter(col("c4") === modal).select(col("vec_id"))
      .as[Long].collect().sorted
    assert(hot.length >= 256, s"modal cell too small: ${hot.length}")
    val cap = 8
    def keyed(n: Int) = {
      val ids = hot.take(n).toSet
      val sub = df.filter(col("vec_id").isin(ids.toSeq.map(Long.box): _*))
      SemDedupStream.corpusLeaves(sub, cap = cap)
        .select(col("depth"), col("cell")).collect()
        .map(r => (r.getInt(0), r.getLong(1)))
    }
    val k1 = keyed(128)
    val k2 = keyed(256)
    val nKeys1 = k1.distinct.length
    val nKeys2 = k2.distinct.length
    // (a) one legacy cell would be ONE key (and 16 at most); the trie
    // splits it to >= n/cap-ish keys
    assert(nKeys1 > 16, s"128 skewed vectors must spread past the " +
      s"legacy 16-key ceiling, got $nKeys1")
    assert(nKeys1 >= 128 / (2 * cap), s"key count must track n/cap")
    // (b) cardinality grows with the corpus at fixed cap
    assert(nKeys2 * 2 >= nKeys1 * 3,
      s"doubling the corpus must grow the key space: $nKeys1 -> $nKeys2")
    // (c) occupancy: every leaf shallower than maxDepth is <= cap
    val overs = k2.groupBy(identity).map { case (k, v) => (k, v.length) }
      .filter { case ((d, _), n) => d < 12 && n > cap }
    assert(overs.isEmpty, s"sub-maxDepth leaves over cap: $overs")
  }

  test("streaming component maintenance (ComponentStream): contraction " +
      "+ canonical remap equals the full batch recomputation after " +
      "EVERY micro-batch — attach, new-new, chain-through-new, and a " +
      "bridge merging two pre-existing multi-doc components") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // corpus: docs 1..6, old edge (1,2) -> ledger {1->1, 2->1, 3..6 self}
    val corpusDocs = (1L to 6L).toSeq
    val corpusEdges = Seq((1L, 2L))
    val ledger = corpusDocs.toDF("doc_id")
      .join(queries.Dedup.connectedComponents(
        corpusEdges.toDF("doc_a", "doc_b")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("label"))
    // batch 1 attaches old-old; batch 2 attaches old to the (1,2)
    // component AND discovers a new-new pair; batch 3 BRIDGES the two
    // old multi-doc components {1,2,5} and {3,4} and chains a second
    // new doc through a stream-discovered one
    val batches = Seq(
      Seq(ComponentStream.Edge(3L, 4L)),
      Seq(ComponentStream.Edge(5L, 2L), ComponentStream.Edge(7L, 8L)),
      Seq(ComponentStream.Edge(4L, 2L), ComponentStream.Edge(8L, 9L)))
    val mem = MemoryStream[ComponentStream.Edge]
    val (writer, maint) =
      ComponentStream.maintain(spark, mem.toDF(), ledger)
    val q = writer.queryName("t_comp_stream").start()
    var edgesSeen = corpusEdges
    var docsSeen = corpusDocs.toSet
    batches.zipWithIndex.foreach { case (b, i) =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      edgesSeen = edgesSeen ++ b.map(e => (e.doc_a, e.doc_b))
      docsSeen = docsSeen ++ b.flatMap(e => Seq(e.doc_a, e.doc_b))
      // first-sight frame: corpus ledger ∪ stream-discovered self-labels
      val fs = ledger.unionByName(
        docsSeen.diff(corpusDocs.toSet).toSeq.sorted.toDF("doc_id")
          .select(col("doc_id"), col("doc_id").as("label")))
      val got = maint.resolve(fs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val comp = queries.Dedup.connectedComponents(
          edgesSeen.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = docsSeen.map(d => d -> comp.getOrElse(d, d)).toMap
      assert(got == expected,
        s"after batch ${i + 1}: got $got expected $expected")
    }
    q.stop()
    // the bridge landed: 1..5 all in component 1, the new chain in 7
    val finalLab = maint.resolve(ledger.unionByName(
        Seq(7L, 8L, 9L).toDF("doc_id")
          .select(col("doc_id"), col("doc_id").as("label"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(finalLab(_) == 1L), s"bridge: $finalLab")
    assert(finalLab(6L) == 6L && Seq(7L, 8L, 9L)
      .forall(finalLab(_) == 7L), s"chain: $finalLab")
    // the remap stays CANONICAL: no root is itself remapped (resolution
    // is one lookup, never a chain)
    val rm = maint.remap.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rm.map(_._2).toSet.intersect(rm.map(_._1).toSet).isEmpty,
      s"remap must be chain-free: ${rm.toSeq}")
    // the remap's Catalyst size estimate must NOT compound across
    // batches: localCheckpoint carries the child plan's stats into its
    // LogicalRDD and join estimation multiplies sizeInBytes, so a
    // rebound frame otherwise grows a BigInt whose bit-length explodes
    // geometrically with the trigger count — measured pre-fix as
    // 374 s of driver-side BigInteger.multiply on trigger 10 (the
    // StreamLatencyProbe comp leg caught it; ComponentStream's
    // checkpointFresh rebuilds the frame from the checkpointed RDD,
    // dropping origin stats). 128 bits = plenty above defaultSizeInBytes
    // (63 bits), far under one compounding step.
    val bits = maint.remap.queryExecution.optimizedPlan
      .stats.sizeInBytes.bitLength
    assert(bits <= 128,
      s"remap sizeInBytes must stay constant-size, got $bits bits — " +
        "stats are compounding through the cross-batch rebind again")
  }

  test("ComponentStream epoch rotation (round-15): folding the remap " +
      "into the ledger at the resolve boundary preserves labels across " +
      "the epoch restart, and a zero-cap maintainer (remap joins " +
      "DEMOTED to shuffle) stays batch-equivalent throughout") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpusDocs = (1L to 6L).toSeq
    val corpusEdges = Seq((1L, 2L))
    val ledger = corpusDocs.toDF("doc_id")
      .join(queries.Dedup.connectedComponents(
        corpusEdges.toDF("doc_a", "doc_b")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("label"))
    def recompute(edges: Seq[(Long, Long)], docs: Set[Long]) = {
      val comp = queries.Dedup.connectedComponents(
          edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.map(d => d -> comp.getOrElse(d, d)).toMap
    }
    // ---- epoch 1: cap 0 forces the shuffle join path for EVERY remap
    // join from the first merge on — the demotion must be invisible to
    // the labels (same scenario as the broadcast-path test above)
    val e1 = Seq(
      Seq(ComponentStream.Edge(3L, 4L)),
      Seq(ComponentStream.Edge(5L, 2L), ComponentStream.Edge(7L, 8L)))
    val mem1 = MemoryStream[ComponentStream.Edge]
    val (w1, m1) = ComponentStream.maintain(spark, mem1.toDF(), ledger,
      remapBroadcastCap = 0L)
    val q1 = w1.queryName("t_comp_rotate_e1").start()
    e1.foreach { b => mem1.addData(b.toIndexedSeq: _*)
      q1.processAllAvailable() }
    q1.stop()
    val e1Edges = corpusEdges ++ e1.flatten.map(e => (e.doc_a, e.doc_b))
    val e1Docs = corpusDocs.toSet ++
      e1.flatten.flatMap(e => Seq(e.doc_a, e.doc_b))
    val fs1 = ledger.unionByName(
      e1Docs.diff(corpusDocs.toSet).toSeq.sorted.toDF("doc_id")
        .select(col("doc_id"), col("doc_id").as("label")))
    val got1 = m1.resolve(fs1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 === recompute(e1Edges, e1Docs),
      "shuffle-demoted remap joins must not change labels")
    assert(m1.remapSize > 0, "epoch 1 must have accumulated merges")
    // ---- ROTATE: fold the remap into the ledger, reset the epoch
    val ledger2 = m1.rotate(fs1)
    assert(m1.remapSize === 0L && m1.remap.isEmpty,
      "rotation must reset the remap to empty")
    val led2 = ledger2.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(led2 === recompute(e1Edges, e1Docs),
      "the rotated ledger must carry the resolved component minimums")
    // ---- epoch 2 from the rotated ledger: the bridge merge {1,2,5}+
    // {3,4} and a chain through a stream-discovered doc both land
    val e2 = Seq(Seq(ComponentStream.Edge(4L, 2L),
      ComponentStream.Edge(8L, 9L)))
    val mem2 = MemoryStream[ComponentStream.Edge]
    val (w2, m2) = ComponentStream.maintain(spark, mem2.toDF(), ledger2)
    val q2 = w2.queryName("t_comp_rotate_e2").start()
    e2.foreach { b => mem2.addData(b.toIndexedSeq: _*)
      q2.processAllAvailable() }
    q2.stop()
    val allEdges = e1Edges ++ e2.flatten.map(e => (e.doc_a, e.doc_b))
    val allDocs = e1Docs ++ e2.flatten.flatMap(e => Seq(e.doc_a, e.doc_b))
    val fs2 = ledger2.unionByName(
      allDocs.diff(e1Docs).toSeq.sorted.toDF("doc_id")
        .select(col("doc_id"), col("doc_id").as("label")))
    val got2 = m2.resolve(fs2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === recompute(allEdges, allDocs),
      "labels across the rotation boundary must equal the full batch " +
        "recomputation over corpus + both epochs' edges")
    // epoch 2's remap is bounded by ITS OWN merges (the bridge + the
    // chain), not epoch 1's history — the rotation's entire point
    assert(m2.remapSize <= e2.flatten.size,
      s"epoch-2 remap (${m2.remapSize}) must be bounded by epoch-2 " +
        s"merges (${e2.flatten.size}), not carry epoch-1 history")
  }

  test("ComponentStream remap durability (round-15): a new Maintainer " +
      "restores the snapshot a crash left behind, at-least-once REPLAY " +
      "of the last batch is a no-op, crash-before-persist re-derives " +
      "the same merges, and rotate() clears the snapshots") {
    import spark.implicits._
    // half-edge frames as stage 1 emits them: (doc_a, doc_b, me, label)
    // with IMMUTABLE first-sight labels (ledger 1->1, 2->1, 3..6 self)
    def he(rows: (Long, Long, Long, Long)*) =
      rows.toDF("doc_a", "doc_b", "me", "label")
    val b1 = he((3L, 4L, 3L, 3L), (3L, 4L, 4L, 4L))
    val b2 = he((5L, 2L, 5L, 5L), (5L, 2L, 2L, 1L),
      (4L, 2L, 4L, 4L), (4L, 2L, 2L, 1L))
    val b3 = he((6L, 9L, 6L, 6L), (6L, 9L, 9L, 9L))
    val dir = TempDirs.create("t_comp_dur")
    val m1 = new ComponentStream.Maintainer(spark,
      stateDir = Some(dir))
    m1.onBatch(b1, 1L)
    m1.onBatch(b2, 2L)
    def rm(m: ComponentStream.Maintainer) = m.remap.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val afterB2 = rm(m1)
    assert(afterB2 === Map(4L -> 1L, 3L -> 1L, 5L -> 1L),
      s"batch-2 merges must chain 3,4,5 onto 1: $afterB2")
    // keep a copy of the batch-2 snapshot for the crash-BEFORE-persist
    // order below
    val dir2 = TempDirs.create("t_comp_dur2")
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
      val t = java.nio.file.Paths.get(dir2)
        .resolve(java.nio.file.Paths.get(dir).relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    // CRASH after persist: a fresh Maintainer restores batch 2's remap
    val m2 = new ComponentStream.Maintainer(spark,
      stateDir = Some(dir))
    assert(rm(m2) === afterB2 && m2.remapSize === 3L,
      "restore must rebuild the snapshot remap exactly")
    // at-least-once replay of the already-applied batch: contraction
    // resolves both endpoints of every merged pair to the same root
    // and the batch contracts to EMPTY — remap byte-identical
    m2.onBatch(b2, 2L)
    assert(rm(m2) === afterB2 && m2.remapSize === 3L,
      "replaying an applied batch must be a no-op")
    m2.onBatch(b3, 3L)
    val afterB3 = rm(m2)
    assert(afterB3 === afterB2 + (9L -> 6L), s"batch 3: $afterB3")
    // CRASH before persist: a Maintainer restored from the batch-2
    // snapshot re-derives batch 3's merges deterministically
    val m3 = new ComponentStream.Maintainer(spark,
      stateDir = Some(dir2))
    m3.onBatch(b3, 3L)
    assert(rm(m3) === afterB3,
      "crash-before-persist replay must re-derive the same merges")
    // rotation clears the durable snapshots: the next epoch's
    // Maintainer on the same dir starts EMPTY
    val ledger = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 5L),
      (6L, 6L), (9L, 9L)).toDF("doc_id", "label")
    val folded = m2.rotate(ledger).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 6L, 9L -> 6L), s"rotated ledger: $folded")
    val m4 = new ComponentStream.Maintainer(spark,
      stateDir = Some(dir))
    assert(m4.remapSize === 0L && m4.remap.isEmpty,
      "a rotated state dir must not restore stale merges")
    // round-16 (round-15 advice): the rotated ledger is DURABLE in the
    // state dir BEFORE the remap snapshots were deleted — a caller that
    // crashed right after rotate() recovers the epoch's entire merge
    // history from here instead of losing it
    val recovered = ComponentStream.rotatedLedger(spark, dir)
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(recovered === Some(folded),
      "rotate() must persist the folded ledger durably before " +
        "deleting the remap snapshots")
    // ... and the rotated maintainer is CLOSED: a stale foreachBatch
    // the caller failed to stop is rejected instead of racing the
    // rotation's deletes and rewriting the marker with stale merges
    val stale = intercept[IllegalArgumentException] { m2.onBatch(b3, 4L) }
    assert(stale.getMessage.contains("rotated"),
      s"post-rotation onBatch must be rejected loudly: $stale")
    // a state dir with no rotation has no ledger to recover
    assert(ComponentStream.rotatedLedger(spark, dir2).isEmpty,
      "an unrotated state dir must not invent a ledger")
  }

  test("streaming dedup DAG end-to-end (round-15): arrivals -> " +
      "NearDupStream (bands + in-state verify) -> durable parquet edge " +
      "handoff -> ComponentStream maintenance -> resolve() equals the " +
      "full batch recomputation over corpus + all arrivals, after " +
      "EVERY micro-batch") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .cache()
    val corpus = all.filter(col("doc_id") < 250)
    val arrivals = all.filter(col("doc_id") >= 250)
      .as[DedupStream.RawDoc].collect().sortBy(_.doc_id)
    val corpusIds = corpus.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // corpus at rest: verified near-dup components (q48's discipline)
    def componentsOf(docs: org.apache.spark.sql.DataFrame) = {
      val sh = queries.Dedup.withShingles(docs)
        .select(col("doc_id"), col("shingles"))
      queries.Dedup.connectedComponents(
        queries.Dedup.verifyJaccard(sh,
            queries.Dedup.minhashCandidates(sh), 0.8)
          .select(col("doc_a"), col("doc_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val corpusComp = componentsOf(corpus)
    val ledger = corpusIds.toSeq.sorted
      .map(id => (id, corpusComp.getOrElse(id, id)))
      .toDF("doc_id", "label")
    // stage 1: band admission evidence, durably handed off as parquet
    // (the production shape — two stateful operators cannot share one
    // streaming query, and a file/Kafka handoff is exactly what a real
    // pipeline puts between admission and graph maintenance)
    val hand = TempDirs.create("t_e2e_edges")
    val ck1 = TempDirs.create("t_e2e_ck1")
    val mem = MemoryStream[DedupStream.RawDoc]
    val q1 = NearDupStream.matches(spark, mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", hand).option("checkpointLocation", ck1)
      .outputMode("append").start()
    // stage 2: the edge stream feeds component maintenance against the
    // corpus ledger
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("matched_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    val edges = spark.readStream.schema(edgeSchema).parquet(hand)
      .select(col("new_doc").as("doc_a"), col("matched_doc").as("doc_b"))
    val (w2, maint) = ComponentStream.maintain(spark, edges, ledger)
    val q2 = w2.queryName("t_e2e_comp").start()
    var seen = Vector.empty[DedupStream.RawDoc]
    arrivals.grouped(math.max(1, arrivals.length / 3)).foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q1.processAllAvailable()
      q2.processAllAvailable()
      seen = seen ++ b
      val fs = ledger.unionByName(
        seen.map(_.doc_id).sorted.toDF("doc_id")
          .select(col("doc_id"), col("doc_id").as("label")))
      val got = maint.resolve(fs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val comp = componentsOf(corpus.unionByName(
        seen.map(d => (d.doc_id, d.text, d.lang, d.n_chars))
          .toDF("doc_id", "text", "lang", "n_chars")))
      val expected = (corpusIds ++ seen.map(_.doc_id))
        .map(d => d -> comp.getOrElse(d, d)).toMap
      assert(got === expected,
        s"composed-pipeline labels diverged after ${seen.size} arrivals")
    }
    q1.stop(); q2.stop()
    assert(spark.read.parquet(hand).count() > 0,
      "fixture must stream verified evidence through the handoff")
  }

  test("composed streaming DAG across a rotation boundary (round-16): " +
      "NearDup -> handoff -> Component runs an arrival wave, the comp " +
      "epoch rotates (stop / rotate / restart with the rotated ledger), " +
      "a second wave lands in epoch 2, and composed labels still equal " +
      "the full batch recomputation over corpus + all arrivals") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .cache()
    val corpus = all.filter(col("doc_id") < 250)
    val arrivals = all.filter(col("doc_id") >= 250)
      .as[DedupStream.RawDoc].collect().sortBy(_.doc_id)
    val corpusIds = corpus.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    def componentsOf(docs: org.apache.spark.sql.DataFrame) = {
      val sh = queries.Dedup.withShingles(docs)
        .select(col("doc_id"), col("shingles"))
      queries.Dedup.connectedComponents(
        queries.Dedup.verifyJaccard(sh,
            queries.Dedup.minhashCandidates(sh), 0.8)
          .select(col("doc_a"), col("doc_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val corpusComp = componentsOf(corpus)
    val ledger = corpusIds.toSeq.sorted
      .map(id => (id, corpusComp.getOrElse(id, id)))
      .toDF("doc_id", "label")
    // stage 1 (admission) runs UNINTERRUPTED across the comp epoch
    // boundary — only the graph-maintenance epoch rotates
    val hand = TempDirs.create("t_rot_e2e_edges")
    val ck1 = TempDirs.create("t_rot_e2e_ck1")
    val mem = MemoryStream[DedupStream.RawDoc]
    val q1 = NearDupStream.matches(spark, mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", hand).option("checkpointLocation", ck1)
      .outputMode("append").start()
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("matched_doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    def edgeStream = spark.readStream.schema(edgeSchema).parquet(hand)
      .select(col("new_doc").as("doc_a"), col("matched_doc").as("doc_b"))
    val (wave1, wave2) = arrivals.splitAt(arrivals.length / 2)
    // ---- epoch 1: wave 1 flows through the composed DAG
    val (w2a, m1) = ComponentStream.maintain(spark, edgeStream, ledger)
    val q2a = w2a.queryName("t_rot_e2e_comp_e1").start()
    mem.addData(wave1.toIndexedSeq: _*)
    q1.processAllAvailable(); q2a.processAllAvailable()
    // ---- rotation boundary: the DOCUMENTED caller protocol, run by
    // the composed pipeline — stop the epoch's query, rotate at the
    // materialization grain, restart maintain() with the rotated ledger
    q2a.stop()
    val fs1 = ledger.unionByName(
      wave1.map(_.doc_id).sorted.toSeq.toDF("doc_id")
        .select(col("doc_id"), col("doc_id").as("label")))
    val ledger2 = m1.rotate(fs1)
    assert(m1.remapSize === 0L, "rotation must reset the epoch remap")
    // ---- epoch 2: a FRESH comp query over the same handoff. Its
    // temp checkpoint replays wave-1 evidence from offset zero — the
    // rotated ledger already carries those merges, so the replay must
    // contract to no-ops while wave 2's new evidence lands
    val (w2b, m2) = ComponentStream.maintain(spark, edgeStream, ledger2)
    val q2b = w2b.queryName("t_rot_e2e_comp_e2").start()
    mem.addData(wave2.toIndexedSeq: _*)
    q1.processAllAvailable(); q2b.processAllAvailable()
    val fs2 = ledger2.unionByName(
      wave2.map(_.doc_id).sorted.toSeq.toDF("doc_id")
        .select(col("doc_id"), col("doc_id").as("label")))
    val got = m2.resolve(fs2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comp = componentsOf(corpus.unionByName(
      arrivals.toSeq.map(d => (d.doc_id, d.text, d.lang, d.n_chars))
        .toDF("doc_id", "text", "lang", "n_chars")))
    val expected = (corpusIds ++ arrivals.map(_.doc_id))
      .map(d => d -> comp.getOrElse(d, d)).toMap
    assert(got === expected,
      "composed labels across the rotation boundary must equal the " +
        "full batch recomputation over corpus + both waves")
    // the replay contributed NOTHING to epoch 2's remap: its rows are
    // exactly the first-sight labels wave 2's evidence merged away
    val fs2Lab = fs2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mergedLabels = fs2Lab.collect {
      case (d, l) if expected(d) != l => l
    }.toSet
    assert(m2.remapSize === mergedLabels.size.toLong,
      s"epoch-2 remap (${m2.remapSize}) must hold exactly wave 2's " +
        s"merged-away labels (${mergedLabels.size}) — a replayed " +
        "wave-1 edge that re-merges would inflate it")
    q1.stop(); q2b.stop()
  }
}
