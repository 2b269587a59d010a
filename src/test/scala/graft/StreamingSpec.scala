package graft

import java.sql.Timestamp

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("windowed counts aggregate per tumbling window under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("ts", "event_type", "value")
    val q = EventStreams.windowedCounts(df, windowLen = "10 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(11), "view", 3.0))
    q.processAllAvailable()
    val rows = spark.table("wc").collect()
    q.stop()
    val byType = rows.map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events")).toMap
    assert(byType("click") == 2L && byType("view") == 1L)
  }

  test("dropDuplicatesWithinWatermark removes re-delivered event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF.toDF("event_id", "ts")
    val q = EventStreams.dedupWithinWatermark(df, watermark = "1 hour")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    mem.addData((1L, ts(1)), (1L, ts(2)), (2L, ts(3)))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("stream-stream interval join pairs events within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF.toDF("user_id", "click_ts").withWatermark("click_ts", "1 hour")
    val v = views.toDF.toDF("v_user_id", "view_ts").withWatermark("view_ts", "1 hour")
    val joined = c.join(v,
      expr("user_id = v_user_id AND view_ts BETWEEN click_ts AND click_ts + interval 10 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    clicks.addData((1L, ts(0)), (2L, ts(0)))
    views.addData((1L, ts(5)), (2L, ts(30)))   // user 1 within bound, user 2 outside
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj").select("user_id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("file-source streaming: readStream over the real events parquet → windowed counts") {
    // file stream source needs a directory — stage the real file into one
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = graft.sources.Tables.canonicalizeEventTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir.toString))
      .select(timestamp_micros(col("ts")).as("ts"), col("event_type"), col("value"))
    val q = EventStreams.windowedCounts(stream, windowLen = "1 day", watermark = "2 days")
      .writeStream.format("memory").queryName("filewc").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val total = spark.table("filewc").agg(sum("n_events")).collect().head.getLong(0)
    assert(total > 0)
  }

  test("streaming windowed counts ≡ batch eventsHourly on the same real data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-equiv")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = graft.sources.Tables.canonicalizeEventTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      .select(timestamp_micros(col("ts")).as("ts"), col("event_type"), col("value"))
    val q = graft.streaming.EventStreams.windowedCounts(stream, "1 hour", "100 days")
      .writeStream.format("memory").queryName("equiv").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streaming = spark.table("equiv")
      .select(expr("unix_micros(window_start) div 3600000000").as("hour_bucket"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("hour_bucket", "event_type").collect().map(_.toSeq)
    val batch = graft.operators.Relational.eventsHourly(
      graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
      .orderBy("hour_bucket", "event_type").collect().map(_.toSeq)
    assert(streaming.toSeq == batch.toSeq)
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // two bursts 40 min apart -> first session closes when second burst arrives
    mem.addData(EventStreams.Event(7L, ts(1), 1.0), EventStreams.Event(7L, ts(5), 2.0))
    q.processAllAvailable()
    mem.addData(EventStreams.Event(7L, ts(45), 4.0))
    q.processAllAvailable()
    val sessions = spark.table("sess").as[EventStreams.SessionUpdate].collect()
    q.stop()
    assert(sessions.length == 1)
    assert(sessions.head.n_events == 2L && sessions.head.sum_value == 3.0)
  }

  test("sessionization state rows stay bounded by key cardinality across micro-batches") {
    // the leak monitor a deployment watches (r8 verdict item 9): the
    // engine's own state-store telemetry (StreamingQueryProgress
    // .stateOperators) must show state rows tracking DISTINCT USERS, not
    // events — a sessionization whose state grew with arrivals would OOM
    // the state store long before 100 TB
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sessstate").outputMode("append").start()
    val nUsers = 6
    // 5 micro-batches, each delivering one fresh event per user: events seen
    // grows 6→30 while keyed state must stay pinned at 6 rows
    for (batch <- 0 until 5) {
      mem.addData((0 until nUsers).map(u =>
        EventStreams.Event(u.toLong, ts(batch * 2 + 1), 1.0)): _*)
      q.processAllAvailable()
    }
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    assert(progresses.length >= 5, s"expected ≥5 data micro-batches, got ${progresses.length}")
    val stateRows = progresses.map(_.stateOperators.map(_.numRowsTotal).sum)
    assert(stateRows.forall(_ <= nUsers.toLong),
      s"state rows exceeded key cardinality: ${stateRows.toSeq}")
    assert(stateRows.last == nUsers.toLong,
      s"expected one state row per user after the run: ${stateRows.toSeq}")
  }

  test("event-time timeout flushes the open session of a quiescent key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val input = mem.toDS().withWatermark("ts", "1 second").as[EventStreams.Event]
    val q = EventStreams.sessionizeWithTimeout(input, gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sessto").outputMode("append").start()
    // user 7 emits a burst then goes quiet FOREVER — no later same-key event
    // ever arrives to close the session (the case plain sessionize leaks)
    mem.addData(EventStreams.Event(7L, ts(1), 1.0), EventStreams.Event(7L, ts(5), 2.0))
    q.processAllAvailable()
    // a different key advances the watermark past user 7's end+gap ...
    mem.addData(EventStreams.Event(8L, ts(50), 9.0))
    q.processAllAvailable()
    // ... and the next trigger fires the armed timeout
    mem.addData(EventStreams.Event(8L, ts(52), 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sessto").as[EventStreams.SessionUpdate].collect()
    q.stop()
    val u7 = sessions.filter(_.user_id == 7L)
    assert(u7.length == 1, s"expected user 7's session flushed by timeout, got ${sessions.toSeq}")
    assert(u7.head.n_events == 2L && u7.head.sum_value == 3.0)
    assert(u7.head.session_start_ms == ts(1).getTime && u7.head.session_end_ms == ts(5).getTime)
  }
}
