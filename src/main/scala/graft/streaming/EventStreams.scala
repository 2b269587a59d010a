package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surfaces (SURVEY.md §2 H1–H3).
  *
  * The reference is batch-only (Beam batch pipelines over Datastore); these
  * are the streaming duals of the event analytics in operators/Relational:
  * the same windowed/sessionized semantics, expressed with watermarks and
  * keyed state so they run incrementally on unbounded input.
  */
object EventStreams {

  /** Tumbling-window counts per event type with a watermark; streaming dual
    * of Relational.eventsHourly. Input needs (ts: timestamp, event_type). */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), graft.functions.Num.r2(sum(col("value"))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming dedup within a watermark (exact-dedup dual): drops re-deliveries
    * of the same event_id arriving inside the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Batch-equivalent execution of windowedCounts through the real streaming
    * engine: stage the events parquet as a file-source stream, run it to
    * completion (AvailableNow semantics via processAllAvailable) into an
    * in-memory complete-mode sink, and return the result keyed like
    * Relational.eventsHourly — so the same DuckDB oracle checks a plan that
    * actually executed as Structured Streaming. */
  /** Stage the events parquet into a fresh directory and open it as a
    * file-source stream (µs-precision TIMESTAMP `ts`, full event columns).
    *
    * The file source needs a declared schema, so we take it from the staged
    * file itself (one batch-read of the footer) — NEVER a hand-asserted one:
    * a user schema of `ts BIGINT` over a parquet TIMESTAMP column silently
    * yields the raw int64 in whatever unit the writer chose, which is a
    * precision landmine. Whatever the file carries, `ts` is normalized to
    * the same canonical epoch-µs as Tables.events and re-expressed as a
    * TIMESTAMP for the watermark/window operators. */
  private def stagedEventsStream(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val dir = graft.infra.Staging.tempDir("graft-stream-q")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("events.parquet"))
    // legacy TIMESTAMP(NANOS) layouts load as raw longs under GraftSession's
    // nanos policy, which the canonicalizer below normalizes
    val fileSchema = spark.read.parquet(dir.toString).schema
    val raw = spark.readStream.schema(fileSchema).parquet(dir.toString)
    graft.sources.Tables.canonicalizeEventTs(raw)
      .select(col("event_id"), timestamp_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the sink table. Stateful-operator partition count is pinned at query
    * start from spark.sql.shuffle.partitions; streaming state should be
    * sized to key cardinality / throughput, not to the batch shuffle width
    * (each partition carries its own state store — a stream-stream join
    * opens four per partition), so we drop to a narrow width for the run
    * and restore the session conf after. */
  private[streaming] def runToTable(streamed: DataFrame, mode: OutputMode): DataFrame = {
    val (narrow, df) = narrowSession(streamed)
    val name = s"stream_q_${System.nanoTime}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable() }
    finally { StreamTelemetry.record(q); q.stop() }
    narrow.table(name)
  }

  /** Re-bind a streaming plan onto a CLONED session (shared SparkContext,
    * cache and catalog; own SQLConf) whose shuffle width is the narrow
    * stateful-operator width. Streaming state should be sized to key
    * cardinality, not batch shuffle width — each partition carries its own
    * state store and a stream-stream join opens four per partition — but
    * mutating the session-global conf (the round-3 shape) silently changed
    * the width of any query running concurrently on the session; the clone
    * scopes the override to this stream alone. */
  private def narrowSession(streamed: DataFrame): (org.apache.spark.sql.SparkSession, DataFrame) = {
    val narrow = streamed.sparkSession.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "8")
    (narrow, org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(
      narrow, streamed.queryExecution.logical))
  }

  /** Run an append-mode streaming DataFrame to completion through a parquet
    * FILE sink and read the result back. The memory sink collects every
    * output row onto the driver; the file sink writes from the executors —
    * the production sink shape — so this is both the faster harness and the
    * truer one for append-mode queries with LARGE outputs (a memory sink
    * is cheaper when a query emits a few hundred rows; complete-mode
    * aggregations need runToTable regardless). */
  private[streaming] def runToFiles(streamed: DataFrame): DataFrame = {
    val (_, df) = narrowSession(streamed)
    val out = graft.infra.Staging.tempDir("graft-stream-out").toString
    val ckpt = graft.infra.Staging.tempDir("graft-stream-ckpt").toString
    val q = df.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable()
    finally { StreamTelemetry.record(q); q.stop() }
    streamed.sparkSession.read.schema(streamed.schema).parquet(out)
  }

  def hourlyViaStream(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    runToTable(windowedCounts(stagedEventsStream(spark, sfDir), "1 hour", "100 days"),
      OutputMode.Complete())
      .select(expr("unix_micros(window_start) div 3600000000").as("hour_bucket"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming dedup executed by the real engine over the staged events
    * stream: dropDuplicatesWithinWatermark keeps one arrival per user inside
    * the (here unbounded) watermark horizon. Projected to the key set, the
    * result is deterministic regardless of which arrival won — and equals
    * batch DISTINCT, which is the oracle. */
  def dedupViaStream(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    runToTable(
      stagedEventsStream(spark, sfDir)
        .withWatermark("ts", "100 days")
        .dropDuplicatesWithinWatermark("user_id"),
      OutputMode.Append())
      .select(col("user_id"))

  /** Stateful sessionization executed by the real engine: the staged events
    * run through flatMapGroupsWithState, which emits a session only when a
    * later same-user event past the gap closes it — so the result is
    * exactly the batch sessionization minus each user's final (still-open)
    * session, which is what the oracle computes. */
  def sessionsViaStream(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = stagedEventsStream(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value")).as[Event]
    runToFiles(sessionize(ev).toDF())
      .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), graft.functions.Num.r2(col("sum_value")).as("sum_value"))
  }

  /** Watermarked stream-stream interval join (SURVEY H4): each left event
    * matches right events of the same user arriving within `[lts, lts+maxLag]`.
    * The time bound lets the engine evict join state once the watermark
    * passes; an inner join's emitted set is arrival-order independent, so
    * run-to-completion equals the batch interval join. */
  def intervalJoin(left: DataFrame, right: DataFrame, maxLag: String = "30 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.select(col("user_id"), col("event_id").as("l_id"), col("ts").as("lts"))
      .withWatermark("lts", watermark)
    val r = right.select(col("user_id").as("r_user_id"), col("event_id").as("r_id"), col("ts").as("rts"))
      .withWatermark("rts", watermark)
    l.join(r, expr(s"user_id = r_user_id AND rts >= lts AND rts <= lts + interval $maxLag"))
      .select(col("user_id"), col("l_id"), col("r_id"),
        (unix_micros(col("rts")) - unix_micros(col("lts"))).as("lag_us"))
  }

  /** view→click attribution through the real streaming engine: views and
    * clicks are two file-source streams over the staged events, joined with
    * the watermarked interval join above. */
  def joinViaStream(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val views = stagedEventsStream(spark, sfDir).where(col("event_type") === "view")
    val clicks = stagedEventsStream(spark, sfDir).where(col("event_type") === "click")
    runToTable(intervalJoin(views, clicks, "30 minutes", "100 days"), OutputMode.Append())
      .select(col("user_id"), col("l_id").as("view_id"), col("r_id").as("click_id"), col("lag_us"))
  }

  case class StepEvent(user_id: Long, tus: Long, event_id: Long, event_type: String)
  case class StepState(step: Int, t: Long)
  case class UserStep(user_id: Long, step: Long)

  /** Incremental ordered-funnel state (streaming dual of
    * Relational.eventsFunnel): per-user keyed state carries (step,
    * last-advance time) and each micro-batch folds its arrivals in
    * (tus, event_id) order — the same strictly-later-timestamp advance
    * rule as batch, so run-to-completion equals the batch fold. The step
    * is monotone, so downstream takes max(step) per user regardless of
    * how many batches emitted progress rows. */
  def funnelSteps(events: Dataset[StepEvent]): Dataset[UserStep] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[StepState, UserStep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[StepState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tus, e.event_id))
          var s = state.getOption.getOrElse(StepState(0, -1L))
          for (e <- sorted) {
            s = (s.step, e.event_type) match {
              case (0, "view") => StepState(1, e.tus)
              case (1, "click") if e.tus > s.t => StepState(2, e.tus)
              case (2, "purchase") if e.tus > s.t => StepState(3, e.tus)
              case _ => s
            }
          }
          state.update(s)
          Iterator.single(UserStep(uid, s.step.toLong))
      }
  }

  /** Funnel progression through the real streaming engine; the per-step
    * user counts aggregate over the emitted progress log (max per user —
    * monotone), matching the batch events_funnel oracle. */
  def funnelViaStream(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                      cutoffUs: Long): DataFrame = {
    import spark.implicits._
    val ev = stagedEventsStream(spark, sfDir)
      .where(unix_micros(col("ts")) < cutoffUs)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("event_type")).as[StepEvent]
    runToFiles(funnelSteps(ev).toDF())
      .groupBy("user_id").agg(max("step").as("step"))
      .groupBy("step").agg(count(lit(1)).as("n_users"))
  }

  case class Event(user_id: Long, ts: Timestamp, value: Double)
  case class SessionUpdate(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                           n_events: Long, sum_value: Double)
  case class SessionState(startMs: Long, endMs: Long, n: Long, sum: Double)

  /** [[sessionize]] plus the production piece it documents as missing: an
    * EVENT-TIME TIMEOUT flushes the open session of a key that goes quiet.
    * Without it, a user who stops emitting events holds state forever and
    * their last session never closes — at scale that is both a state leak
    * and a correctness gap (the batch dual closes every session). The
    * watermark (set by the caller via `.withWatermark` on the input) drives
    * the timeout: after each batch the open session arms a timeout at
    * (session end + gap); when the watermark passes it, the state fires
    * once more with an empty row iterator and the session flushes. Same
    * state machine otherwise — [[sessionize]] stays the run-to-completion
    * oracle surface (its no-timeout semantics equal batch-minus-final-
    * session), this is the deployment surface, spec-driven. */
  def sessionizeWithTimeout(events: Dataset[Event],
                            gapMs: Long = 30L * 60 * 1000): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // quiescent key: the watermark passed end+gap — flush and clear
            val flushed = state.getOption.map(s =>
              SessionUpdate(userId, s.startMs, s.endMs, s.n, s.sum))
            state.remove()
            flushed.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionUpdate]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.endMs, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionUpdate(userId, s.startMs, s.endMs, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Gap-based sessionization with custom keyed state (streaming dual of
    * Relational.eventsSessions): a session closes when a later event for the
    * same key arrives past the gap. The run-to-completion oracle surface;
    * [[sessionizeWithTimeout]] adds the watermark-driven flush a deployment
    * needs. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var closed = List.empty[SessionUpdate]
          var cur = state.getOption
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.endMs <= gapMs =>
                cur = Some(SessionState(s.startMs, math.max(s.endMs, t), s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed ::= SessionUpdate(userId, s.startMs, s.endMs, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }
}
