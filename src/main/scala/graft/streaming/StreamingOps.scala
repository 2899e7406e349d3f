package graft.streaming

import graft.inference.{ColumnProfile, ColumnProfiler, TypeInference}
import graft.inference.TypeInference.ColumnMeta
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming operators (extension — the reference has no
  * streaming surface at all, SURVEY.md §2.9; these are the north-star
  * pipeline pieces).
  *
  * Scale design: every stateful stage keys its state by a bounded key
  * (column name, user id, window) and bounds retention with watermarks
  * or timeouts, so state size is O(keys), never O(events) — the
  * streaming analogue of "only stats reach the driver".
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregation over the events stream:
    * the standard late-data-tolerant shape (late rows beyond the
    * watermark are dropped, state for closed windows is evicted).
    * Tumbling IS hopping at slide = window, so this delegates — one
    * definition of the window/sum semantics for both. */
  def hourlyEventStats(events: DataFrame, watermark: String = "2 hours")
      : DataFrame =
    hoppingEventStats(events, watermark, slideMinutes = 60)
      .withColumnRenamed("w_start", "hour")

  /** Watermarked HOPPING-window aggregation (1-hour windows sliding
    * every `slideMinutes`): each event contributes to exactly
    * 60/slideMinutes overlapping windows — the streaming twin of the
    * q57 batch query, with the same late-data tolerance and closed-
    * window state eviction. State is O(open windows × event types),
    * bounded by the watermark.
    *
    * `slideMinutes` must divide 60: a slide above the window length
    * would leave gaps that silently DROP events between windows, and a
    * non-divisor breaks the windows-per-event contract — both rejected
    * eagerly rather than at stream start (or worse, silently). */
  def hoppingEventStats(events: DataFrame, watermark: String = "2 hours",
                        slideMinutes: Int = 30): DataFrame = {
    require(slideMinutes > 0 && slideMinutes <= 60 &&
      60 % slideMinutes == 0,
      s"slideMinutes must be a divisor of 60 in [1, 60]: $slideMinutes")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", s"$slideMinutes minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Streaming twin of
    * [[graft.operators.TemporalJoins.resampleOhlc]]: per (`key`,
    * 1-hour event-time window), open/high/low/close/count/mean with
    * the same packed (unix_micros(ts), tiebreak) scalar order key
    * driving min_by/max_by — declarative aggregates, so they run as
    * mergeable partial state inside the watermarked streaming agg (no
    * flatMapGroupsWithState, no per-group buffering of raw rows).
    * Append mode: a bar emits once, when the watermark closes its
    * window; state is O(open windows × keys). Null values are
    * excluded, matching the batch operator. */
  def ohlcStream(events: DataFrame, key: String, tsCol: String,
                 valueCol: String, tiebreak: String,
                 watermark: String = "2 hours"): DataFrame = {
    val ord = format_string("%020d|%020d",
      unix_micros(col(tsCol)), col(tiebreak))
    events
      .withWatermark(tsCol, watermark)
      .filter(col(valueCol).isNotNull)
      .groupBy(col(key), window(col(tsCol), "1 hour"))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n"),
        round(avg(col(valueCol)), 6).as("mean_value"))
      .select(col(key), col("window.start").as("bucket"), col("open"),
        col("high"), col("low"), col("close"), col("n"),
        col("mean_value"))
  }

  /** Trending-terms stream: watermarked tumbling-window term counts
    * over a timestamped document stream — the live vocabulary monitor
    * (spam bursts, new-topic surges, scraper loops show up as term
    * spikes long before corpus-level stats move). Tokenization is the
    * batch [[graft.operators.TextAnalysis.tokens]] rule, so a window's
    * emitted counts equal the batch tokenize+window aggregate over the
    * same rows (spec-pinned). `minCount` cuts singleton noise AFTER
    * aggregation (the cut shrinks emission, not state).
    *
    * State is O(open windows × distinct terms within them), bounded by
    * the watermark; closed windows emit once in append mode and their
    * state evicts (spec-pinned, the OHLC-bar pattern). */
  def trendingTermsStream(docs: DataFrame, tsCol: String, textCol: String,
                          windowMinutes: Int = 60,
                          watermark: String = "2 hours",
                          minCount: Long = 2): DataFrame = {
    require(windowMinutes >= 1, "windowMinutes must be >= 1")
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.operators.TextAnalysis.tokens(col(textCol)))
          .as("term"))
      .groupBy(window(col(tsCol), s"$windowMinutes minutes"), col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("window.start").as("w_start"), col("term"), col("n"))
  }

  /** Streaming exact dedup: drop rows whose `idCols` were already seen
    * within the watermark window. `dropDuplicatesWithinWatermark` keys
    * state by `idCols` alone and evicts entries once the watermark
    * passes them — a duplicate arriving later than `watermark` after
    * the original is no longer guaranteed dropped, which is the price
    * of bounded state (unbounded dedup state is a non-starter at
    * 100 TB/day rates). */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
                  idCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming near-dup dedup by document fingerprint — the streaming
    * twin of the q16 batch operator ([[graft.operators.TextAnalysis
    * .fingerprint]]): a document whose sorted-distinct-token-set md5
    * was already seen within the watermark is dropped, so token-order
    * shuffles and repeated tokens don't defeat the dedup the way they
    * defeat [[dedupStream]]'s exact-id keying. Same bounded-state
    * contract: state is keyed by the 32-hex fingerprint alone and
    * evicted once the watermark passes it (eviction is
    * numStateRows-asserted in StreamingOpsSpec).
    *
    * Null text PASSES THROUGH undeduplicated: concat_ws would fold a
    * null token array to md5("") — the empty-document fingerprint — so
    * without the split, distinct null-text documents would silently
    * dedup against each other AND against genuinely empty documents.
    * A null document's content is unknown; it cannot be declared a
    * duplicate of anything. (Empty strings still dedup together:
    * identical text is identical.) */
  def fingerprintDedupStream(docs: DataFrame, tsCol: String,
                             watermark: String, textCol: String): DataFrame = {
    val marked = docs
      .withColumn("_fp", when(col(textCol).isNotNull,
        graft.operators.TextAnalysis.fingerprint(col(textCol))))
      .withWatermark(tsCol, watermark)
    marked.filter(col("_fp").isNotNull)
      .dropDuplicatesWithinWatermark(Seq("_fp"))
      .unionByName(marked.filter(col("_fp").isNull))
      .drop("_fp")
  }

  /** Streaming benchmark decontamination: drop streamed documents that
    * share any word n-gram with a STATIC benchmark set. Decontamination
    * is stateless per document, so it applies batch-locally: each
    * micro-batch runs the exact batch operator
    * ([[graft.operators.Curation.decontaminate]] — shingle semi-join
    * against the static benchmark, anti-join back) inside
    * `foreachBatch`, and results land in `sink`. The semi/anti
    * formulation the batch operator uses is a stream-side SELF-join,
    * which append-mode streaming can't plan directly — `foreachBatch`
    * is the standard (and here semantics-exact) escape hatch, the same
    * one [[inferStream]] uses. No streaming state, nothing to
    * watermark; the benchmark shingle frame is static and reused
    * (broadcast when benchmark-sized) every batch.
    *
    * @param sink receives each decontaminated micro-batch (row-for-row
    *             equal to the batch operator on the same data —
    *             asserted in StreamingOpsSpec) */
  def decontaminateStream(stream: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          checkpoint: String)
                         (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.operators.Curation.decontaminate(
          batch, benchmark, idCol, textCol, n))
      }
      .start()

  /** Streaming drift monitor: score each micro-batch's `valueCol`
    * distribution against a STATIC reference snapshot with
    * [[graft.operators.Drift.psiProfile]] and hand the per-bin PSI
    * report to `sink`. Per-batch scoring is stateless (each report
    * stands alone against the fixed reference), so the batch operator
    * applies verbatim inside `foreachBatch` — the
    * [[decontaminateStream]] shape; no streaming state, nothing to
    * watermark. Batch-twin parity is asserted in StreamingOpsSpec.
    *
    * An EMPTY micro-batch still produces a full-spine report (all-zero
    * `n_cur` — maximum observable drift under smoothing): a silent
    * upstream stall looks exactly like a drifted distribution, which
    * is the alarm a rate monitor wants. */
  def psiMonitorStream(stream: DataFrame, reference: DataFrame,
                       valueCol: String, lo: Double, hi: Double,
                       nBins: Int, checkpoint: String)
                      (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.operators.Drift.psiProfile(
          reference, batch, valueCol, lo, hi, nBins))
      }
      .start()

  /** Watermarked stream-stream interval join: each purchase joined to
    * the same user's clicks within the preceding `windowMinutes`
    * (click-to-purchase attribution). Both sides carry event-time
    * watermarks and the join condition bounds event-time distance, so
    * Spark can evict join state on both sides — the required shape for
    * an unbounded stream-stream join (state stays O(in-window rows),
    * never O(stream)). */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame,
                          watermark: String = "1 hour",
                          windowMinutes: Int = 30): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    p.join(c, expr(
      s"""c_user = user_id AND
          click_ts <= purchase_ts AND
          click_ts >= purchase_ts - INTERVAL $windowMinutes MINUTES"""))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("value"), col("click_id"), col("click_ts"))
  }

  // ---------- incremental schema inference ----------

  /** Running schema state: per-column merged profiles. Thread-safe via
    * synchronization (foreachBatch callbacks are serial per query, but
    * callers may also poll from another thread). */
  final class IncrementalInference {
    private var state = Map.empty[String, ColumnProfile]

    /** Fold one (micro-)batch into the running profiles — one fused
      * aggregation job per batch, merged by the ColumnProfile semigroup
      * (monotone: types only widen along the lattice as data arrives). */
    def update(batch: DataFrame): Unit = {
      val profiles = ColumnProfiler.profile(batch)
      synchronized {
        state = profiles.foldLeft(state) { (acc, p) =>
          acc.updated(p.field, acc.get(p.field).map(_.merge(p)).getOrElse(p))
        }
      }
    }

    /** Current inferred schema over everything seen so far. */
    def currentSchema: Seq[ColumnMeta] = synchronized {
      state.values.toSeq.sortBy(_.field).map { p =>
        ColumnMeta(p.field, p.sourceType.simpleString, TypeInference.decide(p))
      }
    }

    /** Fold one batch AND return its drift report against the
      * PRE-batch corpus — the streaming twin of
      * [[graft.inference.DirectoryDrift]]'s file-vs-corpus classifier
      * with the micro-batch as the "file": `TYPE DRIFT` when the
      * batch's inferred type differs from what the corpus inferred
      * before this batch, `MISSING` when a known corpus column is
      * absent from the batch; an all-null batch column is no evidence.
      * The first batch establishes the corpus and reports nothing.
      * The state still widens monotonically — a drift ALERT and the
      * lattice merge are separate concerns. */
    def updateWithDrift(batch: DataFrame): Seq[SchemaDriftEvent] = {
      val profiles = ColumnProfiler.profile(batch)
      synchronized {
        val report =
          if (state.isEmpty) Seq.empty
          else {
            val corpus = state.view
              .mapValues(p => TypeInference.decide(p).name)
              .filter(_._2 != "notype").toMap
            val batchTypes = profiles
              .map(p => p.field -> TypeInference.decide(p).name).toMap
            corpus.toSeq.sortBy(_._1).flatMap { case (field, ct) =>
              batchTypes.get(field) match {
                case None =>
                  Some(SchemaDriftEvent(field, None, ct, "MISSING"))
                case Some("notype") => None
                case Some(bt) if bt != ct =>
                  Some(SchemaDriftEvent(field, Some(bt), ct, "TYPE DRIFT"))
                case _ => None
              }
            }
          }
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

  final case class DebounceState(last: Long)

  /** Streaming twin of [[graft.operators.TemporalJoins.debounce]] —
    * at-least-once delivery hygiene as a live filter: per (key,
    * payload) group, an event is KEPT iff it arrives more than
    * `withinSeconds` after the previous same-group EVENT (kept or
    * dropped — the batch lag semantics), so redelivery bursts pass
    * only their first element while the burst keeps extending the
    * window. State per group is ONE long (the last event's
    * epoch-micros).
    *
    * Ordering contract (the [[sessionize]] conventions): rows fold in
    * event-time order within each micro-batch; the watermark bounds
    * cross-batch disorder. A cross-batch late event landing more than
    * a window BEFORE the group's last seen event emits as kept — its
    * true predecessor is unknowable and already-emitted output cannot
    * be retracted (the documented at-once semantics); within-window
    * stragglers drop. State EVICTS safely on event-time timeout once
    * the watermark passes last + window: any event Spark still admits
    * after that is beyond the window by construction and starts a
    * fresh group. */
  def debounceStream(events: Dataset[Event], withinSeconds: Long,
                     watermark: String): Dataset[Event] = {
    import events.sparkSession.implicits._
    require(withinSeconds >= 1, s"withinSeconds must be >= 1: $withinSeconds")
    val winUs = withinSeconds * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceState, Event](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
            var last = state.getOption.map(_.last)
            val kept = List.newBuilder[Event]
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              last match {
                case None =>
                  kept += e; last = Some(t)
                case Some(l) if t - l > winUs =>
                  kept += e; last = Some(t)
                case Some(l) if l - t > winUs =>
                  // late beyond the window on the EARLY side: keep,
                  // leave `last` (the max) in place
                  kept += e
                case Some(l) =>
                  last = Some(math.max(l, t))
              }
            }
            last.foreach { l =>
              state.update(DebounceState(l))
              val fireAtMs = math.floorDiv(l, 1000L) + winUs / 1000L + 1
              state.setTimeoutTimestamp(
                math.max(fireAtMs, state.getCurrentWatermarkMs() + 1))
            }
            kept.result().iterator
          }
      }
  }

  // ---------- streaming SCD2 (state-run collapse) ----------

  final case class RunState(state: Option[String], start: Long,
                            last: Long, n: Int)
  final case class StateInterval(user_id: Long, state: String,
                                 valid_from: java.sql.Timestamp,
                                 valid_to: java.sql.Timestamp,
                                 n_events: Int)

  /** Streaming twin of [[graft.operators.TemporalJoins.scd2Collapse]]:
    * per key, maintain the OPEN state run; when an event carries a
    * different state, close the run at the new event's timestamp and
    * emit it as a validity interval. Emits CLOSED intervals only — the
    * open run is the key's current dimension state and lives in the
    * store (append mode cannot retract it; batch-side readers get it
    * from scd2Collapse's null-valid_to row).
    *
    * Ordering contract: events fold in (ts, state) order within each
    * micro-batch; the watermark bounds cross-batch disorder. A
    * cross-batch late event that lands BEHIND the open run's last
    * event merges if it carries the same state, else it emits as its
    * own closed singleton interval — already-emitted history is never
    * retro-split (the sessionizer's documented at-once semantics).
    * State per key is one (state, start, last, n) record — O(keys),
    * deliberately NOT evicted: the open run IS the key's current
    * state, exactly what a CDC dimension keeps forever. */
  def scd2Stream(events: Dataset[Event], watermark: String)
      : Dataset[StateInterval] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, StateInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(foldRuns _)
  }

  private def foldRuns(userId: Long, rows: Iterator[Event],
      state: GroupState[RunState]): Iterator[StateInterval] = {
    val sorted = rows.toSeq.sortBy(e =>
      (toMicros(e.ts), Option(e.event_type).getOrElse("")))
    var closed = List.empty[StateInterval]
    var cur = state.getOption
    sorted.foreach { e =>
      val t = toMicros(e.ts)
      val st = Option(e.event_type)
      cur match {
        case Some(r) if t < r.last =>
          if (st == r.state)
            cur = Some(r.copy(start = math.min(r.start, t), n = r.n + 1))
          else
            closed ::= StateInterval(userId, e.event_type,
              fromMicros(t), fromMicros(t), 1)
        case Some(r) if st == r.state =>
          cur = Some(r.copy(last = t, n = r.n + 1))
        case Some(r) =>
          closed ::= StateInterval(userId, r.state.orNull,
            fromMicros(r.start), fromMicros(t), r.n)
          cur = Some(RunState(st, t, t, 1))
        case None =>
          cur = Some(RunState(st, t, t, 1))
      }
    }
    cur.foreach(state.update)
    closed.reverseIterator
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

  /** One streamed document for [[quotaCapStream]]: (group, id, event
    * time). Arrival order across micro-batches is the quota order. */
  final case class QuotaDoc(group: String, doc_id: Long,
                            ts: java.sql.Timestamp)
  final case class QuotaState(n: Int)

  /** Streaming per-group quota cap — the incremental twin of the q136
    * batch operator with STREAM semantics: the batch form keeps the
    * md5-rank-best `quota` rows of a finished corpus; a stream cannot
    * revoke an emitted row, so the streaming contract is first-arrival
    * — each group's first `quota` documents pass, everything after is
    * dropped forever. Within one micro-batch, ties are ordered by
    * (ts, doc_id) ascending so the emitted set is a deterministic
    * function of the batch boundaries (the intra-batch sort buffers
    * only that batch's group slice — batch-bounded, never stream
    * history).
    *
    * State is ONE counter per group (O(groups), a few bytes each) with
    * NoTimeout: a lifetime budget never expires, and the counter must
    * outlive any watermark — this is the documented deliberate
    * exception to the eviction-pinned pattern the windowed operators
    * use. At 100 TB group cardinality = sources/hosts, not documents.
    */
  def quotaCapStream(docs: Dataset[QuotaDoc], quota: Int)
      : Dataset[QuotaDoc] = {
    import docs.sparkSession.implicits._
    require(quota > 0, s"quota must be positive, got $quota")
    docs.groupByKey(_.group)
      .flatMapGroupsWithState[QuotaState, QuotaDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val seen = state.getOption.map(_.n).getOrElse(0)
          if (seen >= quota) {
            rows.foreach(_ => ()) // drain; budget already spent
            Iterator.empty
          } else {
            val kept = rows.toSeq
              .sortBy(d => (d.ts.getTime, d.doc_id))
              .take(quota - seen)
            state.update(QuotaState(seen + kept.size))
            kept.iterator
          }
      }
  }

  /** The running release-card totals: every field is a semigroup fold
    * of per-batch aggregates, so stream state ≡ the batch card over
    * the union of everything seen (asserted in the spec). */
  final case class CorpusCardState(nDocs: Long, totalChars: Long,
                                   totalTokens: Long, nEmpty: Long,
                                   sources: Set[String],
                                   langs: Set[String],
                                   vocabRegisters: Map[Int, Int])

  /** Incremental corpus dataset card — the q138 release frame
    * maintained across micro-batches of a live ingest. Exact counters
    * (docs/chars/tokens/empties) fold as sums; sources/langs fold as
    * set union (bounded by SOURCE/LANG cardinality, not documents —
    * the same contract as the per-group quota state); the vocabulary,
    * which is NOT boundedly exact incrementally, is tracked as the
    * portable HLL register table ([[graft.operators.Sketch]]) whose
    * MAX-merge is associative+idempotent — so the streamed registers
    * are BIT-IDENTICAL to a one-shot batch sketch of the union, not
    * merely close (spec-asserted). Two aggregate jobs per batch (one
    * scalar row, one ≤256-row register frame); raw rows never reach
    * the driver. */
  final class IncrementalCorpusCard {
    import graft.operators.{Sketch, TextAnalysis}
    private var state = CorpusCardState(0L, 0L, 0L, 0L,
      Set.empty, Set.empty, Map.empty)

    /** Fold one micro-batch (columns: text, source, lang). */
    def update(batch: DataFrame): Unit = {
      val row = batch.agg(
        count(lit(1)).as("n"),
        coalesce(sum(length(col("text"))), lit(0L)).cast("long").as("ch"),
        coalesce(sum(size(TextAnalysis.tokens(col("text")))), lit(0L))
          .cast("long").as("tk"),
        coalesce(sum(when(col("text").isNull || col("text") === "", 1L)
          .otherwise(0L)), lit(0L)).as("emp"),
        collect_set(col("source")).as("srcs"),
        collect_set(col("lang")).as("lngs")).head()
      val regs = Sketch.hllRegisters(
        batch.select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        "tok", Seq.empty)
        .collect().map(r => r.getInt(0) -> r.getInt(1))
      synchronized {
        state = CorpusCardState(
          state.nDocs + row.getLong(0),
          state.totalChars + row.getLong(1),
          state.totalTokens + row.getLong(2),
          state.nEmpty + row.getLong(3),
          state.sources ++ row.getSeq[String](4),
          state.langs ++ row.getSeq[String](5),
          regs.foldLeft(state.vocabRegisters) { case (acc, (b, r)) =>
            acc.updated(b, math.max(acc.getOrElse(b, 0), r))
          })
      }
    }

    def current: CorpusCardState = synchronized(state)

    /** Distinct-vocabulary estimate from the merged registers, through
      * the SAME estimator the batch sketch uses (register frame →
      * [[graft.operators.Sketch.hllEstimate]] — no duplicated
      * formula). */
    def vocabEstimate(spark: org.apache.spark.sql.SparkSession): Double = {
      import spark.implicits._
      val regs = synchronized(state.vocabRegisters).toSeq
      if (regs.isEmpty) 0.0
      else Sketch.hllEstimate(regs.toDF("bucket", "reg"), Seq.empty)
        .head().getDouble(0)
    }
  }

  /** Wire a document stream through the incremental card: each
    * micro-batch folds in; the returned handle exposes the running
    * release stats. */
  def corpusCardStream(stream: DataFrame, checkpoint: String)
      : (IncrementalCorpusCard, StreamingQuery) = {
    val inc = new IncrementalCorpusCard
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => inc.update(batch) }
      .start()
    (inc, q)
  }

  /** Incremental rollup maintenance as streaming state — the streaming
    * twin of [[graft.operators.Scale.aggState]] / `mergeAggStates`
    * (the q164 semigroup run forever): each micro-batch collapses to
    * its group-sized aggregate-state frame INSIDE the cluster, and
    * only that frame reaches the driver, where it folds into a map by
    * the same exact-integer merge (sums add, mins min, maxes max,
    * cents/cents² fields). Because every state field is associative
    * and commutative, the streamed state is BIT-identical to the
    * one-shot batch state over the union of all batches — not merely
    * close (spec-asserted, the corpus-card contract). Driver memory is
    * O(groups), guarded by `maxGroups`. */
  final class IncrementalRollup(keys: Seq[String], valueCol: String,
                                maxGroups: Int = 100000) {
    require(keys.nonEmpty, "IncrementalRollup needs grouping keys")
    private final case class Cell(nRows: Long, nVals: Long,
      sumCents: Long, sumsq: BigInt, minCents: Option[Long],
      maxCents: Option[Long])
    private def mergeOpt(a: Option[Long], b: Option[Long],
                         f: (Long, Long) => Long): Option[Long] =
      (a, b) match {
        case (Some(x), Some(y)) => Some(f(x, y))
        case (x, None) => x
        case (None, y) => y
      }
    private var state = Map.empty[Seq[Any], Cell]
    private var schema: org.apache.spark.sql.types.StructType = _

    /** Fold one micro-batch (must carry `keys` and `valueCol`). */
    def update(batch: DataFrame): Unit = {
      val st = graft.operators.Scale.aggState(batch, keys, valueCol)
      val rows = st.limit(maxGroups + 1).collect()
      require(rows.length <= maxGroups,
        s"IncrementalRollup: a single batch exceeded $maxGroups groups")
      val k = keys.size
      synchronized {
        if (schema == null) schema = st.schema
        rows.foreach { r =>
          val key = (0 until k).map(r.get)
          val c = Cell(r.getLong(k), r.getLong(k + 1), r.getLong(k + 2),
            BigInt(r.getDecimal(k + 3).toBigInteger),
            if (r.isNullAt(k + 4)) None else Some(r.getLong(k + 4)),
            if (r.isNullAt(k + 5)) None else Some(r.getLong(k + 5)))
          val m = state.get(key) match {
            case None => c
            case Some(p) => Cell(p.nRows + c.nRows, p.nVals + c.nVals,
              p.sumCents + c.sumCents, p.sumsq + c.sumsq,
              mergeOpt(p.minCents, c.minCents, math.min),
              mergeOpt(p.maxCents, c.maxCents, math.max))
          }
          state = state.updated(key, m)
        }
        require(state.size <= maxGroups,
          s"IncrementalRollup: state exceeded $maxGroups groups")
      }
    }

    /** The merged state as a frame in the exact [[graft.operators
      * .Scale.aggState]] shape — feed it to `finalizeAggState` or
      * merge it onward; groups-sized, never row-sized. */
    def currentState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val (snap, sch) = synchronized((state, schema))
      require(sch != null, "IncrementalRollup: no batch folded yet")
      val rows = snap.toSeq.map { case (key, c) =>
        org.apache.spark.sql.Row.fromSeq(key ++ Seq(c.nRows, c.nVals,
          c.sumCents, new java.math.BigDecimal(c.sumsq.bigInteger),
          c.minCents.orNull, c.maxCents.orNull))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), sch)
    }
  }

  /** Wire a stream through the incremental rollup: each micro-batch
    * folds its aggregate state in; the handle exposes the running
    * state frame. */
  def rollupStream(stream: DataFrame, keys: Seq[String],
                   valueCol: String, checkpoint: String)
      : (IncrementalRollup, StreamingQuery) = {
    val inc = new IncrementalRollup(keys, valueCol)
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => inc.update(batch) }
      .start()
    (inc, q)
  }

  /** Streaming content-defined-chunking dedup — the
    * [[graft.operators.Dedup.cdcChunkDedup]] first-occurrence rule run
    * FOREVER: each micro-batch's documents chunk by the same
    * content-defined boundaries, a chunk survives iff its digest has
    * never been seen (in any earlier batch OR earlier in this batch by
    * the batch operator's (doc, chunk) total order), and the surviving
    * digests append to a parquet digest STORE at `statePath` — the
    * state is a distributed table, not driver memory, so it scales to
    * corpus-sized digest sets (the landing-manifest pattern applied to
    * dedup state; the store is also the recovery point: restart and
    * the dedup continues where it left off).
    *
    * When batches partition a corpus in ascending id order, the
    * streamed reports are ROW-IDENTICAL to the batch operator over the
    * whole corpus (first-occurrence is the same total order) —
    * spec-asserted, the batch-twin contract.
    *
    * Replay safety: foreachBatch is AT-LEAST-ONCE — a crash after the
    * store append but before the checkpoint commit replays the batch
    * against a store that already holds the batch's own kept digests,
    * which would mark every chunk dup and diverge from the batch twin.
    * The store is therefore laid out hive-partitioned by the
    * foreachBatch batchId (`statePath/_batch_id=N/`): `seen` reads the
    * store EXCLUDING the current batchId (batchIds are monotone, so
    * own-batch rows are exactly the possibly-replayed append — earlier
    * batches always carry smaller ids), and the append OVERWRITES the
    * own-batch partition directory — idempotent under full replay AND
    * self-healing under a partial (crashed mid-write) append. The
    * digest rows themselves are per-batch-deterministic, so the
    * rewritten partition is content-identical. Spec-asserted by the
    * restart leg of the batch-parity test plus the dedicated
    * replayed-batch test.
    *
    * @param sink receives each batch's per-document survival report
    *             (same schema as the batch operator) */
  def cdcDedupStream(stream: DataFrame, idCol: String, textCol: String,
                     statePath: String, checkpoint: String,
                     avgChunkTokens: Int = 8, maxChunkTokens: Int = 64)
                    (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val chunks = graft.operators.Dedup.cdcChunks(batch, idCol,
            textCol, avgChunkTokens, maxChunkTokens)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val seen: DataFrame =
            if (new org.apache.hadoop.fs.Path(statePath).getFileSystem(
                s.sparkContext.hadoopConfiguration)
                .exists(new org.apache.hadoop.fs.Path(statePath)))
              // exclude own-batch rows: on a replayed batch the store
              // already holds this batch's digests from the crashed
              // attempt — partition pruning makes the exclusion a
              // directory-level skip, not a scan-and-filter
              s.read.parquet(statePath)
                .filter(col("_batch_id") =!= lit(batchId))
                .select(col("_d"))
            else
              s.createDataFrame(new java.util.ArrayList[
                  org.apache.spark.sql.Row](),
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("_d",
                    org.apache.spark.sql.types.StringType))))
          // within-batch first occurrence by the batch operator's
          // (doc, chunk) total order, then an anti-check against the
          // accumulated digest store
          val firstHere = chunks.groupBy(col("_d"))
            .agg(min(struct(col("_id"), col("_chunk"))).as("_first"))
          val marked = chunks.join(firstHere, Seq("_d"))
            .join(seen.withColumn("_seen", lit(true)), Seq("_d"), "left")
            .withColumn("_kept",
              col("_seen").isNull &&
                col("_id") === col("_first._id") &&
                col("_chunk") === col("_first._chunk"))
          sink(graft.operators.Dedup.cdcReport(batch, idCol, marked))
          // idempotent append: overwrite THIS batch's partition dir
          marked.filter(col("_kept")).select(col("_d")).distinct()
            .write.mode("overwrite")
            .parquet(s"$statePath/_batch_id=$batchId")
        } finally chunks.unpersist(false)
      }
      .start()

  /** Streaming winnowing overlap gate — the
    * [[graft.operators.Dedup.winnowDedupAgainstStore]] check run
    * FOREVER against a growing parquet fingerprint store: each
    * micro-batch is gated against every ALREADY-ACCEPTED document's
    * selected fingerprints (the plagiarism/contamination check a
    * growing corpus actually runs), and the fingerprints of the
    * batch's accepted (non-flagged) documents append to the store.
    * The store is the recovery point — restart and the gate continues
    * where it left off — and the distributed table IS the state, so
    * it scales to corpus-sized fingerprint sets (the CDC digest-store
    * pattern applied to winnowing).
    *
    * Each batch's report is EXACTLY the batch operator's output
    * against the store as of that batch (spec-asserted): batch N's
    * report ≡ winnowDedupAgainstStore(batch_N, fingerprints of all
    * accepted docs of batches < N). Within-batch duplicates are NOT
    * cross-checked (same as the batch operator — that is
    * winnowOverlapPairs' job); both copies gate against history only.
    *
    * Replay safety: the [[cdcDedupStream]] layout — the store is
    * hive-partitioned by foreachBatch batchId, `seen` excludes the
    * current batchId (a replayed batch must not see its own crashed
    * append), and the append OVERWRITES the own-batch partition —
    * idempotent under full replay, self-healing under partial writes.
    *
    * @param sink receives each batch's per-document report (the
    *             winnowDedupAgainstStore schema) */
  def winnowDedupStream(stream: DataFrame, idCol: String, textCol: String,
                        statePath: String, checkpoint: String,
                        kgram: Int = 3, window: Int = 4,
                        minShared: Int = 2)
                       (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        val seen: DataFrame =
          if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
            s.read.parquet(statePath)
              .filter(col("_batch_id") =!= lit(batchId))
              .select(col(idCol), col("fingerprint"))
          else
            // empty store with the BATCH's id type (limit 0 keeps the
            // schema without materializing anything)
            batch.select(col(idCol)).limit(0)
              .withColumn("fingerprint", lit(0L))
        val report = graft.operators.Dedup.winnowDedupAgainstStore(
            batch, idCol, textCol, seen, kgram, window, minShared)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(report)
          val accepted = report.filter(!col("is_flagged"))
            .select(col(idCol))
          graft.operators.Dedup.winnowFingerprints(
              batch, idCol, textCol, kgram, window)
            .join(accepted, Seq(idCol), "left_semi")
            .write.mode("overwrite")
            .parquet(s"$statePath/_batch_id=$batchId")
        } finally report.unpersist(false)
      }
      .start()

  /** Streaming embedding-store dedup — the
    * [[graft.operators.Similarity.semDedupAgainstStore]] gate run
    * FOREVER: each micro-batch of (id, vector) rows is checked against
    * the persisted store of every already-accepted document's
    * embedding (k-medians cells trained on the store, exact intra-cell
    * cosine, is_dup at `tau`), and the non-dup rows' vectors append to
    * the store. The third member of the incremental-store streaming
    * family ([[cdcDedupStream]] digests, [[winnowDedupStream]]
    * fingerprints, this one embeddings) — same batch-operator parity
    * contract (batch N's report ≡ the batch operator against the
    * store as of N, spec-asserted), same batchId-partitioned
    * idempotent store layout (`seen` excludes the current batchId; the
    * append overwrites the own-batch partition), so at-least-once
    * foreachBatch replay is exact and partial writes self-heal.
    *
    * The store persists RAW vectors, not cell assignments: cells are
    * re-trained per batch from the current store (centroid drift
    * tracks the accepted distribution), which costs one bounded
    * driver-side sample per batch — the [[cdcDedupStream]]-style
    * trade of a small fixed recompute for exact restartability.
    *
    * @param sink receives each batch's per-vector report (the
    *             semDedupAgainstStore schema) */
  def semDedupStream(stream: DataFrame, idCol: String, vecCol: String,
                     statePath: String, checkpoint: String, tau: Double,
                     nCells: Int, iters: Int = 1,
                     trainSamplePct: Int = 100)
                    (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        val seen: DataFrame =
          if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
            s.read.parquet(statePath)
              .filter(col("_batch_id") =!= lit(batchId))
              .select(col(idCol), col(vecCol))
          else
            batch.select(col(idCol), col(vecCol)).limit(0)
        val report = graft.operators.Similarity.semDedupAgainstStore(
            batch, idCol, vecCol, seen, tau, nCells, iters,
            trainSamplePct)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(report)
          batch.select(col(idCol),
              col(vecCol).cast("array<double>").as(vecCol))
            .join(report.filter(!col("is_dup")).select(col(idCol)),
              Seq(idCol), "left_semi")
            .write.mode("overwrite")
            .parquet(s"$statePath/_batch_id=$batchId")
        } finally report.unpersist(false)
      }
      .start()

  /** Streaming two-sided CUSUM monitor —
    * [[graft.operators.Drift.cusumChangepoints]] run FOREVER: each
    * micro-batch extends the per-group cumulative sums from a
    * persisted CARRY store (last prefix sum + running extremum per
    * group), so S⁺/S⁻ accumulate across batches exactly as the batch
    * operator would over the concatenated frame. Parity holds when
    * batches arrive in event-time order (the streaming-twin contract,
    * spec-pinned); a late row folds at its ARRIVAL position — the
    * honest semantics of a sequential monitor, which cannot revise
    * already-emitted alarms.
    *
    * The carry store is the recovery point (restart resumes where the
    * last committed batch left off) and is batch-id-partitioned for
    * idempotent at-least-once replay: a replayed batch excludes its
    * own partition when reading the carry and OVERWRITES it on
    * append — the CDC/winnowing/SemDeDup twin discipline. State is
    * one row per (group, batch) — O(groups) per batch, never
    * O(events); groups silent in a batch keep their latest earlier
    * carry (the per-group argmax over batch ids reads it back). */
  def cusumMonitorStream(stream: DataFrame, groupCol: String,
                         idCol: String, tsCol: String, valueCol: String,
                         targetMicro: Long, slackMicro: Long,
                         thresholdMicro: Long, statePath: String,
                         checkpoint: String)
                        (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col(groupCol))
          .orderBy(col(tsCol), col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val carry: DataFrame = {
          val p = new org.apache.hadoop.fs.Path(statePath)
          if (p.getFileSystem(s.sparkContext.hadoopConfiguration)
              .exists(p))
            s.read.parquet(statePath)
              .filter(col("_batch_id") =!= lit(batchId))
              .groupBy(col(groupCol))
              .agg(min(struct((-col("_batch_id")).as("nb"),
                col("_p_end").as("pe"), col("_p_min").as("pm"),
                col("_q_end").as("qe"), col("_q_max").as("qm")))
                .as("_c"))
              .select(col(groupCol), col("_c.pe").as("_cpe"),
                col("_c.pm").as("_cpm"), col("_c.qe").as("_cqe"),
                col("_c.qm").as("_cqm"))
          else
            batch.select(col(groupCol)).limit(0)
              .select(col(groupCol), lit(0L).as("_cpe"),
                lit(0L).as("_cpm"), lit(0L).as("_cqe"),
                lit(0L).as("_cqm"))
        }
        val x = round(col(valueCol).cast("double") * 1000000L)
          .cast("long")
        val scored = batch
          .filter(col(valueCol).isNotNull &&
            !isnan(col(valueCol).cast("double")) && col(tsCol).isNotNull)
          .select(col(groupCol), col(idCol), col(tsCol), x.as("x_micro"))
          .join(carry, Seq(groupCol), "left")
          .na.fill(0L, Seq("_cpe", "_cpm", "_cqe", "_cqm"))
          .withColumn("_p", col("_cpe") +
            sum(col("x_micro") - lit(targetMicro + slackMicro)).over(w))
          .withColumn("_q", col("_cqe") +
            sum(col("x_micro") - lit(targetMicro - slackMicro)).over(w))
          .withColumn("_m", least(col("_cpm"), min("_p").over(w)))
          .withColumn("_xq", greatest(col("_cqm"), max("_q").over(w)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(scored.select(col(groupCol), col(idCol), col(tsCol),
            col("x_micro"),
            (col("_p") - col("_m")).as("s_hi_micro"),
            (col("_xq") - col("_q")).as("s_lo_micro"),
            (col("_p") - col("_m") > thresholdMicro).as("alarm_hi"),
            (col("_xq") - col("_q") > thresholdMicro).as("alarm_lo")))
          // new carry = the last row per group under the (ts, id)
          // order, with the running extrema as of that row
          scored.groupBy(col(groupCol))
            .agg(max(struct(col(tsCol).as("t"), col(idCol).as("i"),
              col("_p").as("pe"), col("_m").as("pm"),
              col("_q").as("qe"), col("_xq").as("qm"))).as("_last"))
            .select(col(groupCol), col("_last.pe").as("_p_end"),
              col("_last.pm").as("_p_min"), col("_last.qe").as("_q_end"),
              col("_last.qm").as("_q_max"))
            .write.mode("overwrite")
            .parquet(s"$statePath/_batch_id=$batchId")
        } finally scored.unpersist(false)
      }
      .start()

  /** Streaming C4 sentence-span gate — the
    * [[graft.operators.Dedup.spanDedupAgainstStore]] check run
    * FOREVER against a growing parquet span-digest store: each
    * micro-batch of documents is gated against every
    * ALREADY-ACCEPTED document's three-sentence span digests, and
    * the accepted (non-flagged) documents' own span digests append
    * to the store. The fourth member of the incremental-store family
    * ([[cdcDedupStream]] chunk digests, [[winnowDedupStream]]
    * fingerprints, [[semDedupStream]] embeddings, this one sentence
    * spans) — same batch-operator parity contract (batch N's report
    * ≡ the batch operator against the store as of N, spec-asserted),
    * same batchId-partitioned idempotent store layout (`seen`
    * excludes the current batchId; the append overwrites the
    * own-batch partition), so at-least-once foreachBatch replay is
    * exact and partial writes self-heal. Within-batch duplicates are
    * not cross-checked — both copies gate against history only (the
    * corpus-wide census is [[graft.operators.Dedup.sentenceSpanDedup]]).
    *
    * @param sink receives each batch's per-document report (the
    *             spanDedupAgainstStore schema) */
  /** Streaming twin of
    * [[graft.operators.Multimodal.phashDedupAgainstStore]] — the live
    * perceptual-hash gate an image feed runs: per micro-batch the
    * persisted dHash store loads (8 bytes per accepted image — never
    * a thumbnail re-decode), the asymmetric banded-Hamming join flags
    * near-dups, and the NON-dup batch hashes append back under a
    * `_batch_id=` partition so a checkpoint replay of the same batch
    * OVERWRITES its own prior write instead of duplicating store rows
    * (the [[spanDedupStream]] idempotence contract; the store filter
    * drops the replaying batch's own partition before matching). */
  def phashDedupStream(stream: DataFrame, idCol: String,
                       thumbCol: String, statePath: String,
                       checkpoint: String, maxHamming: Int = 6)
                      (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        val store: DataFrame =
          if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
            s.read.parquet(statePath)
              .filter(col("_batch_id") =!= lit(batchId))
              .select(col(idCol), col("dhash"))
          else
            batch.select(col(idCol)).limit(0)
              .withColumn("dhash", lit(0L))
        val report = graft.operators.Multimodal.phashDedupAgainstStore(
            batch, idCol, thumbCol, store, maxHamming)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(report)
          val accepted = report.filter(!col("is_dup")).select(col(idCol))
          batch.select(col(idCol),
              graft.operators.Multimodal.dHash64(col(thumbCol))
                .as("dhash"))
            .join(accepted, Seq(idCol), "left_semi")
            .write.mode("overwrite")
            .parquet(s"$statePath/_batch_id=$batchId")
        } finally report.unpersist(false)
      }
      .start()

  def spanDedupStream(stream: DataFrame, idCol: String, textCol: String,
                      statePath: String, checkpoint: String,
                      span: Int = 3, minDup: Int = 1)
                     (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        val seen: DataFrame =
          if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
            s.read.parquet(statePath)
              .filter(col("_batch_id") =!= lit(batchId))
              .select(col(idCol), col("_dig"))
          else
            batch.select(col(idCol)).limit(0)
              .withColumn("_dig", lit("").cast("string"))
        val report = graft.operators.Dedup.spanDedupAgainstStore(
            batch, idCol, textCol, seen, span, minDup)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(report)
          val accepted = report.filter(!col("is_flagged"))
            .select(col(idCol))
          graft.operators.Dedup.sentenceSpanDigests(
              batch, idCol, textCol, span)
            .join(accepted, Seq(idCol), "left_semi")
            .write.mode("overwrite")
            .parquet(s"$statePath/_batch_id=$batchId")
        } finally report.unpersist(false)
      }
      .start()

  /** Streaming twin of
    * [[graft.operators.TemporalJoins.seasonalProfile]]'s CELL layer:
    * running (key, iso-dow, hour-of-day) event counts in Update mode.
    * Seasonal cells never close — every future Monday-10am event
    * updates the same cell — so there is no watermark and no
    * eviction; state is bounded by construction at keys × 168 cells,
    * the rare aggregation that is LEGITIMATELY unwatermarked. The
    * share/deviation layer needs per-key totals (a second aggregation
    * level Structured Streaming cannot stack) and stays a batch
    * finishing step over the emitted cells — the same
    * cells-then-finish split as [[corpusCardStream]]. Batch parity:
    * the cell counts after processing a bounded stream equal the
    * batch operator's n_events exactly (spec-pinned). */
  def seasonalCellsStream(events: DataFrame, keyCol: String,
                          tsCol: String): DataFrame =
    events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"),
        ((dayofweek(col(tsCol)) + 5) % 7 + 1).as("dow"),
        hour(col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n_events"))
}
