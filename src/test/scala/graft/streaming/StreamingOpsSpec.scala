package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Waits for a query started with an ending trigger and fails loudly:
    * it must terminate within `timeoutMs`, a query that died rethrows its
    * cause with its last progress, and it is stopped either way, so no
    * query keeps running into later tests. */
  private def runToEnd(q: StreamingQuery, timeoutMs: Long): Unit =
    try {
      val ended =
        try q.awaitTermination(timeoutMs)
        catch { case _: StreamingQueryException => true }
      q.exception.foreach { e =>
        throw new AssertionError(
          s"query ${q.name} failed; last progress: ${q.lastProgress}", e)
      }
      assert(ended, s"query ${q.name} still running after $timeoutMs ms; " +
        s"last progress: ${q.lastProgress}")
    } finally q.stop()

  // `sessionize` runs under ProcessingTimeTimeout, where every trigger
  // plans a timeout-check batch: an AvailableNow query over it never
  // terminates, and processAllAvailable() never returns either (99
  // empty batches in 90 s). Trigger.Once runs the one batch that holds
  // the available rows and ends; no 30-minute processing-time gap can
  // time out within it.
  @annotation.nowarn("cat=deprecation")
  private val oneBatch = Trigger.Once()

  test("merge across an all-'NaN' batch equals direct profiling") {
    // 'NaN' strings are numeric-castable but contribute nothing to the
    // integral check; an all-'NaN' first batch must not poison the AND
    // (the vacuous-integral merge bug found in round-2 review).
    val inc = new StreamingOps.IncrementalInference
    inc.update(Seq("NaN").toDF("c"))
    assert(inc.currentSchema.head.proposedName == "float8") // all-NaN → float8
    inc.update(Seq("1", "2").toDF("c"))
    assert(inc.currentSchema.head.proposedName == "int4",
      "ints after a NaN-only batch must still infer integral")
  }

  test("incremental inference: merged micro-batches widen monotonically") {
    val inc = new StreamingOps.IncrementalInference
    inc.update(Seq("1", "2").toDF("c"))
    assert(inc.currentSchema.head.proposedName == "int4")
    inc.update(Seq("2147483648").toDF("c"))
    assert(inc.currentSchema.head.proposedName == "int8")
    inc.update(Seq("1.5").toDF("c"))
    assert(inc.currentSchema.head.proposedName == "float8")
    inc.update(Seq("zzz").toDF("c"))
    assert(inc.currentSchema.head.proposedName == "varchar(256)")
    // a second column arriving later merges in
    inc.update(Seq(("x", "2024-01-01")).toDF("c", "d"))
    val types = inc.currentSchema.map(m => m.field -> m.proposedName).toMap
    assert(types("d") == "date")
  }

  test("schema-drift monitor: batch-vs-corpus events, state still widens") {
    val inc = new StreamingOps.IncrementalInference
    // batch 1 establishes the corpus — no drift by definition
    assert(inc.updateWithDrift(
      Seq((7L, "x"), (8L, "y")).toDF("k", "s")).isEmpty)
    // same-shaped batch: quiet
    assert(inc.updateWithDrift(
      Seq((9L, "z")).toDF("k", "s")).isEmpty)
    // k goes fractional: TYPE DRIFT against the pre-batch corpus
    val drift = inc.updateWithDrift(Seq((1.5, "w")).toDF("k", "s"))
    assert(drift == Seq(StreamingOps.SchemaDriftEvent(
      "k", Some("float8"), "int4", "TYPE DRIFT")), drift.toString)
    // the merge still widened — monitor and lattice are separate
    assert(inc.currentSchema.find(_.field == "k").get.proposedName
      == "float8")
    // a dropped column reports MISSING; an all-null column is silent
    val missing = inc.updateWithDrift(
      Seq((Some("v"), None: Option[String]))
        .toDF("s", "k").select("s")) // k absent entirely
    assert(missing == Seq(StreamingOps.SchemaDriftEvent(
      "k", None, "float8", "MISSING")), missing.toString)
    val allNull = inc.updateWithDrift(
      Seq((None: Option[Double], "q")).toDF("k", "s"))
    assert(allNull.isEmpty, s"all-null is no evidence: $allNull")
  }

  test("schema-drift monitor over a real stream (foreachBatch)") {
    val mem = MemoryStream[(Long, String)](spark)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamingOps.SchemaDriftEvent]()
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    mem.addData((7L, "a"), (8L, "b"))
    val (inc, q) = StreamingOps.schemaDriftMonitorStream(
      mem.toDF().toDF("k", "s"), ckpt)(evs => evs.foreach(events.add))
    runToEnd(q, 30000)
    assert(events.isEmpty, "first batch cannot drift")
    assert(inc.currentSchema.map(_.proposedName).toList
      == List("int4", "varchar(256)"))
  }

  test("incremental inference over a real stream (foreachBatch)") {
    val mem = MemoryStream[String](spark)
    mem.addData("1", "2", "9999999999")
    val (inc, q) = StreamingOps.inferStream(
      mem.toDF().toDF("c"),
      s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
    runToEnd(q, 30000)
    assert(inc.currentSchema.head.proposedName == "int8")
  }

  test("table fingerprint streams: incremental digest equals the batch digest") {
    // the commutative digest (a SUM of row hashes) is mergeable by
    // construction, so the BATCH operator runs unchanged on a stream
    // in complete mode — the mergeability claim, asserted
    val rows = Seq((1L, "x", "p0"), (2L, "y", "p0"), (3L, "z", "p1"),
      (4L, "w", "p1"), (5L, "v", "p0"))
    val mem = MemoryStream[(Long, String, String)](spark)
    mem.addData(rows.take(2): _*)   // batch 1
    mem.addData(rows.drop(2): _*)   // batch 2
    val agg = graft.operators.Audit.tableFingerprint(
      mem.toDF().toDF("id", "v", "part"), Seq("part"), Seq("id", "v"))
    val q = agg.writeStream.format("memory").queryName("fp_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    runToEnd(q, 30000)
    val streamed = spark.table("fp_stream")
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.operators.Audit.tableFingerprint(
      rows.toDF("id", "v", "part"), Seq("part"), Seq("id", "v"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch,
      "micro-batched digests must merge to the one-shot batch digest")
  }

  test("stateless quality filters are stream-safe: streamed ≡ batch") {
    // gopherQualityFlags and c4LineFilter are pure per-row expression
    // passes, so they must compose into readStream unchanged — this
    // pins that neither ever grows a stateful/blocking operator (a
    // sort, a window, an aggregate would fail streaming analysis or
    // change results here)
    val docs = Seq(
      (1L, ("the quick brown fox jumps over lazy dogs with vigor and " * 6).trim),
      (2L, "first good line with five words.\nsecond good line with words too!\nthird fine line has enough words.\nshort."),
      (3L, ""))
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(docs: _*)
    val streamed = graft.operators.TextAnalysis.gopherQualityFlags(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = streamed.writeStream.format("memory")
      .queryName("gopher_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("gopher_stream").orderBy("doc_id").collect().toSeq
    val want = graft.operators.TextAnalysis.gopherQualityFlags(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(got == want, s"streamed gopher flags diverge:\n$got\n$want")

    val mem2 = MemoryStream[(Long, String)](spark)
    mem2.addData(docs: _*)
    val streamed2 = graft.operators.TextAnalysis.c4LineFilter(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q2 = streamed2.writeStream.format("memory")
      .queryName("c4_stream").outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table("c4_stream").orderBy("doc_id").collect().toSeq
    val want2 = graft.operators.TextAnalysis.c4LineFilter(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(got2 == want2, s"streamed c4 output diverges:\n$got2\n$want2")
  }

  test("streaming sessionization matches the batch reference") {
    val events = Seq(
      StreamingOps.Event(1L, ts("2024-01-01 00:00:00"), "a"),
      StreamingOps.Event(1L, ts("2024-01-01 00:10:00"), "b"), // same session
      StreamingOps.Event(1L, ts("2024-01-01 02:00:00"), "c"), // new session
      StreamingOps.Event(2L, ts("2024-01-01 00:05:00"), "a"))
    // batch reference
    val batch = StreamingOps.sessionizeBatch(
      events.toDF(), gapMinutes = 30)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Int)].collect().toSet
    assert(batch == Set(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2),
      (1L, ts("2024-01-01 02:00:00"), ts("2024-01-01 02:00:00"), 1),
      (2L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:05:00"), 1)))
    // streaming: closed sessions (not the still-open tails) must appear
    val mem = MemoryStream[StreamingOps.Event](spark)
    mem.addData(events: _*)
    val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .trigger(oneBatch)
      .start()
    runToEnd(q, 60000)
    val closed = spark.table("sessions_test")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Int)].collect().toSet
    // user 1's first session closed when the 02:00 event arrived; the
    // open tails (1 @02:00, 2 @00:05) await timeout and stay in state
    assert(closed == Set(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2)))
    assert(closed.subsetOf(batch))
  }

  test("sessionize: cross-batch late event never shrinks a session") {
    // Rows are sorted only WITHIN a micro-batch; a late event arriving in
    // a LATER batch with t < state.last (round-2 ADVICE) must extend the
    // session bounds via min/max, not regress session_end below
    // session_start. Two single-batch runs over ONE checkpoint force the
    // deterministic batch boundary (flatMapGroupsWithState state is
    // checkpointed, so run 2 resumes run 1's session state). The sink is
    // foreachBatch — the memory sink refuses checkpoint recovery, and a
    // single continuous query cannot be drained (see `oneBatch`).
    val mem = MemoryStream[StreamingOps.Event](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Timestamp, Timestamp, Int)]()
    def runBatch(): Unit = {
      val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingOps.UserSession],
           _: Long) =>
            df.collect().foreach(s =>
              out.add((s.user_id, s.session_start, s.session_end, s.n_events)))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(oneBatch)
        .start()
      runToEnd(q, 60000)
    }
    mem.addData(
      StreamingOps.Event(1L, ts("2024-01-01 00:10:00"), "a"),
      StreamingOps.Event(1L, ts("2024-01-01 00:20:00"), "b"))
    runBatch()
    mem.addData( // late: before the state's `last`, and before its `start`
      StreamingOps.Event(1L, ts("2024-01-01 00:05:00"), "late"),
      // in-order closer: a gap > 30 min closes the merged session
      StreamingOps.Event(1L, ts("2024-01-01 01:30:00"), "next"))
    runBatch()
    val closed = out.toArray(Array.empty[(Long, Timestamp, Timestamp, Int)]).toSet
    assert(closed == Set(
      (1L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:20:00"), 3)),
      s"late event must widen the session (got $closed)")
  }

  test("sessionizeEventTime: watermark closes sessions deterministically, " +
      "cross-batch out-of-order events merge") {
    // The event-time variant (round-4 verdict item 6): tail sessions
    // close when the WATERMARK passes session_end + gap, never on a
    // wall-clock timer. Four AvailableNow runs over one checkpoint pin
    // the batch boundaries; the watermark (10 min delay) is advanced by
    // later events, so every closure below is a deterministic function
    // of the data.
    val mem = MemoryStream[StreamingOps.Event](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Timestamp, Timestamp, Int)]()
    def runBatch(): Unit = {
      val q = StreamingOps.sessionizeEventTime(
        mem.toDS(), gapMinutes = 30, watermark = "10 minutes")
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingOps.UserSession],
           _: Long) =>
            df.collect().foreach(s =>
              out.add((s.user_id, s.session_start, s.session_end, s.n_events)))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      runToEnd(q, 60000)
    }
    val all = scala.collection.mutable.ArrayBuffer[StreamingOps.Event]()
    def add(evs: StreamingOps.Event*): Unit = { all ++= evs; mem.addData(evs: _*) }
    // run 1: two users open sessions; watermark after = 00:10 − 10m = 00:00
    add(StreamingOps.Event(1L, ts("2024-01-01 00:00:00"), "a"),
      StreamingOps.Event(1L, ts("2024-01-01 00:10:00"), "b"),
      StreamingOps.Event(2L, ts("2024-01-01 00:05:00"), "a"))
    runBatch()
    // run 2: a cross-batch OUT-OF-ORDER event (00:05, at the watermark
    // edge → kept, merges into user 1's open session), then a gap-
    // crossing event that closes it data-side. Watermark after = 01:50.
    add(StreamingOps.Event(1L, ts("2024-01-01 00:05:00"), "late"),
      StreamingOps.Event(1L, ts("2024-01-01 02:00:00"), "c"))
    runBatch()
    // run 3: another user's event pushes the watermark past user 2's
    // session_end + gap (00:35 < 01:50) → user 2's tail FIRES ON
    // WATERMARK, no wall-clock involved. Watermark after = 08:50.
    add(StreamingOps.Event(3L, ts("2024-01-01 09:00:00"), "a"))
    runBatch()
    // run 4: watermark 08:50 > user 1's 02:00 + 30m → tail fires too
    add(StreamingOps.Event(3L, ts("2024-01-01 09:01:00"), "b"))
    runBatch()
    val closed = out.toArray(Array.empty[(Long, Timestamp, Timestamp, Int)]).toSet
    assert(closed == Set(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 3),
      (1L, ts("2024-01-01 02:00:00"), ts("2024-01-01 02:00:00"), 1),
      (2L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:05:00"), 1)),
      s"got $closed")
    // conformance: closed sessions ⊆ batch sessionization of all events;
    // the only difference is the still-open tail (user 3)
    val batch = StreamingOps.sessionizeBatch(all.toSeq.toDF(), gapMinutes = 30)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Int)].collect().toSet
    assert(batch == closed +
      ((3L, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:01:00"), 2)))
  }

  test("sessionizeEventTime: events behind the watermark are dropped, " +
      "never stretch sessions backwards") {
    // The watermark CONTRACT of the event-time variant: an event that
    // arrives later than the watermark delay is filtered before the
    // state fold, so it can neither extend a session nor appear as its
    // own singleton (the processing-time variant would emit one — that
    // difference is the documented price of deterministic output).
    val mem = MemoryStream[StreamingOps.Event](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Timestamp, Timestamp, Int)]()
    def runBatch(): Unit = {
      val q = StreamingOps.sessionizeEventTime(
        mem.toDS(), gapMinutes = 30, watermark = "10 minutes")
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingOps.UserSession],
           _: Long) =>
            df.collect().foreach(s =>
              out.add((s.user_id, s.session_start, s.session_end, s.n_events)))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      runToEnd(q, 60000)
    }
    // run 1: open a session; watermark after = 10:10 − 10m = 10:00
    mem.addData(StreamingOps.Event(1L, ts("2024-01-01 10:00:00"), "a"),
      StreamingOps.Event(1L, ts("2024-01-01 10:10:00"), "b"))
    runBatch()
    // run 2: 09:00 is a full hour behind the 10:00 watermark → dropped;
    // 10:20 is in-order and merges
    mem.addData(StreamingOps.Event(1L, ts("2024-01-01 09:00:00"), "too-late"),
      StreamingOps.Event(1L, ts("2024-01-01 10:20:00"), "c"))
    runBatch()
    // run 3: another user pushes the watermark past 10:20 + gap → the
    // session closes on event time
    mem.addData(StreamingOps.Event(2L, ts("2024-01-01 12:00:00"), "a"))
    runBatch()
    mem.addData(StreamingOps.Event(2L, ts("2024-01-01 12:01:00"), "b"))
    runBatch()
    val closed = out.toArray(Array.empty[(Long, Timestamp, Timestamp, Int)]).toSet
    assert(closed == Set(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"), 3)),
      s"dropped event must leave no trace (got $closed)")
  }

  test("sessionize: event older than gap-before-start never stretches the open session") {
    // Round-3 review finding: `t - s.last <= gap` is vacuously true for
    // ANY past t, so a cross-batch event hours before the open session
    // would merge and stretch it backwards over already-emitted
    // sessions. Such an event must instead emit as its own closed
    // singleton, leaving the open state untouched.
    val mem = MemoryStream[StreamingOps.Event](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Timestamp, Timestamp, Int)]()
    def runBatch(): Unit = {
      val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingOps.UserSession],
           _: Long) =>
            df.collect().foreach(s =>
              out.add((s.user_id, s.session_start, s.session_end, s.n_events)))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(oneBatch)
        .start()
      runToEnd(q, 60000)
    }
    mem.addData(StreamingOps.Event(1L, ts("2024-01-01 10:00:00"), "a"),
      StreamingOps.Event(1L, ts("2024-01-01 10:10:00"), "b"))
    runBatch()
    mem.addData( // 9 hours before the open session's start
      StreamingOps.Event(1L, ts("2024-01-01 01:05:00"), "very-late"),
      // forward closer for the still-open 10:00 session
      StreamingOps.Event(1L, ts("2024-01-01 12:00:00"), "next"))
    runBatch()
    val closed = out.toArray(Array.empty[(Long, Timestamp, Timestamp, Int)]).toSet
    assert(closed == Set(
      (1L, ts("2024-01-01 01:05:00"), ts("2024-01-01 01:05:00"), 1),
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2)),
      s"old event must be its own closed session (got $closed)")
  }
}
