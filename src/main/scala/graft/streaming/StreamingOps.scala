package graft.streaming

import graft.inference.{ColumnProfile, ColumnProfiler, DirectoryDrift,
  TypeInference}
import graft.inference.TypeInference.ColumnMeta
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming extensions (the reference has no streaming
  * surface at all, SURVEY.md §2.9), in two pieces:
  *   - incremental schema inference over a stream, the paper's
  *     inference and drift report folded one micro-batch at a time;
  *   - gap sessionization, whose cross-batch state batch SQL cannot
  *     express, with [[sessionizeBatch]] as its batch twin (q28).
  *
  * Scale design: every stateful stage keys its state by a bounded key
  * (column name, user id) and bounds retention with watermarks or
  * timeouts, so state size is O(keys), never O(events) — the
  * streaming analogue of "only stats reach the driver".
  */
object StreamingOps {

  // ---------- incremental schema inference ----------

  /** Running schema state: per-column merged profiles. Thread-safe via
    * synchronization (foreachBatch callbacks are serial per query, but
    * callers may also poll from another thread). */
  final class IncrementalInference {
    private var state = Map.empty[String, ColumnProfile]

    /** Fold one (micro-)batch into the running profiles — one fused
      * aggregation job per batch, merged by the ColumnProfile semigroup
      * (monotone: types only widen along the lattice as data arrives).
      * The fold of [[updateWithDrift]], its report dropped. */
    def update(batch: DataFrame): Unit = { updateWithDrift(batch); () }

    /** Current inferred schema over everything seen so far. */
    def currentSchema: Seq[ColumnMeta] = synchronized {
      state.values.toSeq.sortBy(_.field).map { p =>
        ColumnMeta(p.field, p.sourceType.simpleString, TypeInference.decide(p))
      }
    }

    /** Fold one batch AND return its drift report against the
      * PRE-batch corpus: [[graft.inference.DirectoryDrift.driftRows]]
      * with the micro-batch as the "file", corpus columns in name order.
      * The first batch establishes the corpus and reports nothing.
      * The state still widens monotonically — a drift ALERT and the
      * lattice merge are separate concerns. */
    def updateWithDrift(batch: DataFrame): Seq[SchemaDriftEvent] = {
      val profiles = ColumnProfiler.profile(batch)
      synchronized {
        val report = DirectoryDrift
          .driftRows(state.values.toSeq.sortBy(_.field), profiles)
          .map(SchemaDriftEvent.tupled)
        state = profiles.foldLeft(state) { (acc, p) =>
          acc.updated(p.field, acc.get(p.field).map(_.merge(p)).getOrElse(p))
        }
        report
      }
    }
  }

  final case class SchemaDriftEvent(field: String,
                                    batchType: Option[String],
                                    corpusType: String, reason: String)

  /** Wire a stream through the drift monitor: each micro-batch is
    * profiled, classified against the running corpus, folded in, and
    * its drift events (often none) handed to `sink` — the live
    * "producer changed a column type" alarm, at one stats-row
    * aggregate per batch. */
  def schemaDriftMonitorStream(stream: DataFrame, checkpoint: String)
      (sink: Seq[SchemaDriftEvent] => Unit)
      : (IncrementalInference, StreamingQuery) = {
    val inc = new IncrementalInference
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(inc.updateWithDrift(batch))
      }
      .start()
    (inc, q)
  }

  /** Wire a stream through incremental inference: each micro-batch is
    * profiled and merged; the returned handle exposes the running
    * schema. The stream itself is never materialized anywhere. */
  def inferStream(stream: DataFrame, checkpoint: String)
      : (IncrementalInference, StreamingQuery) = {
    val inc = new IncrementalInference
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => inc.update(batch) }
      .start()
    (inc, q)
  }

  // ---------- stateful sessionization ----------

  final case class Event(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class UserSession(user_id: Long,
                               session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp,
                               n_events: Int)

  /** Timestamp ↔ epoch-microseconds without precision loss
    * (`Timestamp.getTime` alone is millis and silently truncates the
    * microsecond component parquet timestamps carry). */
  private def toMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The shared per-group fold both sessionizers run: emit the state's
    * session on timeout, otherwise merge the batch's rows into the open
    * session (closing and emitting as gaps are crossed) and hand the
    * still-open tail to `arm`, which schedules the variant-specific
    * timeout. */
  private def foldSessionGroup(gapUs: Long,
      arm: (GroupState[SessionState], SessionState) => Unit)(
      userId: Long, rows: Iterator[Event],
      state: GroupState[SessionState]): Iterator[UserSession] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(UserSession(userId, fromMicros(s.start),
        fromMicros(s.last), s.n))
    } else {
      val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
      var closed = List.empty[UserSession]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = toMicros(e.ts)
        cur match {
          case Some(s)
              if t - s.last <= gapUs && t - s.start >= -gapUs =>
            // min/max, not unconditional overwrite: rows are sorted
            // only WITHIN a batch, so a late event from a later
            // micro-batch can carry t < s.last (or even slightly
            // before s.start, within the gap) — blindly setting
            // last = t would shrink the session and could emit
            // session_end < session_start.
            cur = Some(s.copy(start = math.min(s.start, t),
              last = math.max(s.last, t), n = s.n + 1))
          case Some(s) if t - s.start < -gapUs =>
            // cross-batch late event MORE than a gap before the
            // open session's start: it belongs to an earlier,
            // already-closed time range. Merging would stretch the
            // open session backwards over sessions that were
            // already emitted; emit it immediately as its own
            // closed singleton instead and leave the open state
            // untouched. (Sessions it might have bridged are
            // irrecoverably emitted — the documented at-once
            // semantics of gap sessionization without a watermark.)
            closed ::= UserSession(userId, fromMicros(t),
              fromMicros(t), 1)
          case Some(s) =>
            closed ::= UserSession(userId, fromMicros(s.start),
              fromMicros(s.last), s.n)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        arm(state, s)
      }
      closed.reverseIterator
    }

  /** Gap-based sessionization with flatMapGroupsWithState: a session
    * closes when `gapMinutes` pass without an event (processing-time
    * timeout closes the tail session). State per user is three numbers
    * (epoch-microsecond bounds + count) — O(users), watermark-evictable.
    *
    * Tail-session closure depends on WALL-CLOCK idleness, so output
    * timing is trigger-dependent; [[sessionizeEventTime]] is the
    * deterministic variant.
    *
    * Triggers: run it under `Trigger.Once` or a processing-time trigger.
    * Under `Trigger.AvailableNow` the query never terminates, and
    * `processAllAvailable()` never returns under any trigger, because
    * the processing-time timeout makes every trigger plan one more
    * timeout-check batch, so there is never a last batch. */
  def sessionize(events: Dataset[Event], gapMinutes: Int)
      : Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        foldSessionGroup(gapUs,
          (state, _) => state.setTimeoutDuration(gapUs / 1000L)) _)
  }

  /** Event-time sessionization: like [[sessionize]] but tail sessions
    * close when the event-time WATERMARK passes session_end + gap —
    * never on a wall-clock timer — so the output is a deterministic
    * function of the data regardless of trigger cadence or processing
    * speed. The price is the watermark contract: events later than
    * `watermark` relative to the stream's max event time are dropped by
    * Spark before they reach the state fold (the in-batch and
    * within-watermark out-of-order handling is the same min/max merge
    * as [[sessionize]]).
    *
    * State stays O(users) and is now properly evictable: a user who
    * stops sending events has their tail session flushed as soon as the
    * watermark (driven by OTHER users' events) crosses the gap, rather
    * than waiting on a processing-time timer that resets with every
    * trigger. */
  def sessionizeEventTime(events: Dataset[Event], gapMinutes: Int,
                          watermark: String): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        foldSessionGroup(gapUs, (state, s) => {
          // fire when the watermark passes last + gap; clamp above the
          // current watermark — Spark rejects a timeout at-or-before it
          // (reachable when a row lands exactly at the watermark edge)
          val fireAtMs = math.floorDiv(s.last, 1000L) + gapUs / 1000L
          state.setTimeoutTimestamp(
            math.max(fireAtMs, state.getCurrentWatermarkMs() + 1))
        }) _)
  }

  /** Batch reference implementation of the same sessionization (for
    * conformance: streaming output ⊆ batch sessions) — the classic
    * gap-window via lag + cumulative session ids. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    // microseconds, like the streaming sessionizer and the q28 oracle's
    // epoch_us — unix_millis would truncate sub-ms gap components and
    // disagree exactly at the gap boundary
    val gapUs = gapMinutes * 60000000L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapUs)
          .cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"))
      .drop("session_id")
  }
}
