package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine (SURVEY.md §2.8: the reference
  * has no streaming — batch CSV → metrics in one process; these are the
  * generalized event-stream operators the north star requires, built on the
  * batch operators' semantics in [[graft.scale.Events]]).
  *
  * Every transform here takes and returns a streaming DataFrame, so the same
  * code runs against any source (`readStream.format("rate"|"kafka"|files)`).
  * Tests drive them through `MemoryStream` (StreamingSpec).
  *
  * Scale design: all aggregations are keyed on (window/session, user) so
  * state is partitioned by the shuffle; watermarks bound state size — without
  * one, 100 TB of events would accumulate state forever. Late data beyond the
  * watermark is dropped (Spark defaults; no reference semantics to honor).
  */
object Streams {

  /** Tumbling event-time window aggregation with a watermark. Mirrors
    * Events.hourlyAgg: counts + exact decimal value sums per
    * (window, event_type).
    *
    * `approxDistinctUsers`: streaming `countDistinct` is unsupported in
    * append mode, so the distinct-user count is HLL-sketched
    * (`approx_count_distinct`) — the standard scale trade-off.
    */
  def windowedAgg(
      events: DataFrame,
      tsCol: String = "ts",
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(functions.window(col(tsCol), window), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("n_users_approx"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  // alias so `functions.window` above resolves against the sql functions
  private val functions = org.apache.spark.sql.functions

  /** Streaming exact dedup on key columns within the watermark horizon —
    * the streaming form of Dedup.exact. State holds one entry per distinct
    * key seen within the horizon; the watermark evicts it.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Built-in gap-based session windows (streaming form of
    * Events.sessionizeNative): sessions close `gap` after the last event,
    * emitted once the watermark passes.
    */
  def sessionWindows(
      events: DataFrame,
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  // ---------------------------------------------------------------------
  // Custom state: flatMapGroupsWithState sessionization with per-session
  // event caps — semantics session_window can't express (emit a session
  // early once it reaches maxEvents, regardless of gap).
  // ---------------------------------------------------------------------

  final case class SessionEvent(user_id: Long, epochSec: Long, value: Double)
  final case class SessionState(
      start: Long, last: Long, nEvents: Long, sumValue: Double)
  final case class SessionOut(
      user_id: Long, start_epoch: Long, end_epoch: Long,
      n_events: Long, sum_value: Double, closed_by: String)

  /** Event-count-capped sessionization via explicit state. With
    * `idleTimeout=true`, a processing-time timeout also closes idle sessions
    * — production mode; leave false under test harnesses driven by
    * `processAllAvailable()`, which never returns while timeout-only batches
    * keep scheduling. (Event-time closing: swap in `EventTimeTimeout` + an
    * input watermark — same structure.)
    */
  def cappedSessions(
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800L,
      maxEvents: Long = 100L,
      idleTimeout: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append,
        if (idleTimeout) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionEvent],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(user, s.start, s.last, s.nEvents, s.sumValue, "timeout"))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.epochSec, e.value))
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var cur = state.getOption
            // cap check applies to every state transition — including a
            // session's FIRST event (maxEvents=1 would otherwise never cap,
            // since the old growth-only check saw nEvents=1 as fresh)
            def admit(s: SessionState): Option[SessionState] =
              if (s.nEvents >= maxEvents) {
                closed += SessionOut(user, s.start, s.last, s.nEvents,
                  s.sumValue, "cap")
                None
              } else Some(s)
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.epochSec - s.last > gapSeconds =>
                  closed += SessionOut(user, s.start, s.last, s.nEvents,
                    s.sumValue, "gap")
                  cur = admit(SessionState(e.epochSec, e.epochSec, 1L, e.value))
                case Some(s) =>
                  cur = admit(SessionState(s.start, e.epochSec,
                    s.nEvents + 1, s.sumValue + e.value))
                case None =>
                  cur = admit(SessionState(e.epochSec, e.epochSec, 1L, e.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                if (idleTimeout) state.setTimeoutDuration(gapSeconds * 1000)
              case None => state.remove()
            }
            closed.iterator
          }
      }
  }

  /** A file stream over corpus table `table` under `dir`, typed by
    * `batch`: the table's batch frame, which the caller has already
    * loaded. A file source needs a user schema, and taking it from the
    * loaded frame costs no second schema-inference job; the load has also
    * set any read conf the table needs (events' nanosAsLong). The path is
    * a glob, not the bare file: FileStreamSource requires its basePath to
    * be a directory.
    */
  def corpusStream(batch: DataFrame, dir: String, table: String): DataFrame =
    batch.sparkSession.readStream.schema(batch.schema)
      .parquet(s"$dir/$table*.parquet")

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the collected result table (test/dev harness; production would
    * `writeStream.format("parquet").option("checkpointLocation", …)`).
    *
    * SINK NAME: `prefix` plus a fresh UUID, so each drain reads back its
    * own rows — two drains of one frame in a session (Bench's repeated
    * passes) never share a sink, and callers pass only a readable prefix.
    *
    * COMPLETE-MODE CONTRACT: in `OutputMode.Complete` every micro-batch
    * re-emits the ENTIRE state table, so both the state and the per-batch
    * output scale with the GROUPING-KEY CARDINALITY, not the stream
    * length. Only point Complete-mode aggregations at bounded key
    * domains — dictionary-scale groups like arms, event types, embedding
    * dimensions, or sketch registers (the repo's streaming moment/sketch
    * twins all do). A user- or doc-keyed Complete aggregation (e.g. the
    * per-user counts feeding the streaming top-k) is only safe when the
    * key domain itself is bounded, as on the test corpora; for unbounded
    * keys switch to watermarked Append-mode aggregation (state pruned by
    * event time) or Update mode with explicit state timeouts.
    * StreamingSpec's bounded-groups test pins this assumption.
    *
    * STATE-PARTITION CAP: state-store commit cost is per (partition ×
    * state store × micro-batch) — every partition writes and fsyncs a
    * delta file per batch — while the aggregation work above the store is
    * already bounded by map-side partial aggregation (reduce input = map
    * tasks × live keys, not stream rows). The drain therefore runs at
    * `min(session shuffle partitions, 8)`: it tracks the state-dictionary
    * size, never raises the session's count (small verify sessions run at
    * 4), and leaves results unchanged (exact aggregation state). Measured
    * at sf0.1/local[32]: 32 → 8 saves ~0.6-0.7 s per drain across the ~65
    * drains of the bench suite.
    *
    * SESSION-GLOBAL MUTATION: the cap swaps spark.sql.shuffle.partitions
    * for the duration of the drain and restores it in finally, also when
    * the query throws — sound only because the harness runs queries
    * SEQUENTIALLY on the session (Bench/Verify both do); concurrent query
    * construction during a drain would plan with the capped value, and
    * interleaved drains could restore each other's values. A concurrent
    * deployment should clone the session (spark.newSession()) per drain
    * instead.
    */
  def runToMemory(
      df: DataFrame,
      prefix: String,
      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val spark = df.sparkSession
    val name =
      prefix + "_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(prev.toInt, 8).toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .start()
      q.processAllAvailable()
      q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name)
  }
}
