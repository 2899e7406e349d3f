package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

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
    q.awaitTermination(30000)
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
    q.awaitTermination(30000)
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
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val streamed = spark.table("fp_stream")
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.operators.Audit.tableFingerprint(
      rows.toDF("id", "v", "part"), Seq("part"), Seq("id", "v"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch,
      "micro-batched digests must merge to the one-shot batch digest")
  }

  test("watermarked hourly aggregation over a stream matches batch") {
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    mem.addData(
      (ts("2024-01-01 00:10:00"), "click", 1.0),
      (ts("2024-01-01 00:50:00"), "click", 2.0),
      (ts("2024-01-01 01:10:00"), "view", 3.0))
    val agg = StreamingOps.hourlyEventStats(
      mem.toDF().toDF("ts", "event_type", "value"))
    // complete mode: every window is visible regardless of watermark
    // closure, so the aggregation itself is assertable deterministically
    val q = agg.writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val rows = spark.table("hourly_test")
      .select("hour", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(rows == Set(
      (ts("2024-01-01 00:00:00"), "click", 2L, 3.0),
      (ts("2024-01-01 01:00:00"), "view", 1L, 3.0)))
  }

  test("streaming OHLC bars equal the batch resampleOhlc on the same events") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 2L, 9.0),
      (1L, ts("2024-01-01 10:00:00"), 1L, 5.0), // tie: eid 1 wins open
      (1L, ts("2024-01-01 10:30:00"), 3L, 1.0),
      (1L, ts("2024-01-01 10:59:00"), 4L, 7.0),
      (2L, ts("2024-01-01 10:10:00"), 5L, 2.0),
      (1L, ts("2024-01-01 11:20:00"), 6L, 4.0))
    val mem = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    mem.addData(rows: _*)
    val agg = StreamingOps.ohlcStream(
      mem.toDF().toDF("k", "ts", "eid", "v"), "k", "ts", "v", "eid")
    // complete mode: every window visible → the aggregate itself is
    // deterministically assertable (the hourly-stats pattern); append
    // eviction is pinned by the suite's state-eviction tests
    val q = agg.writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val got = spark.table("ohlc_stream")
      .as[(Long, Timestamp, Double, Double, Double, Double, Long, Double)]
      .collect().toSet
    val batch = graft.operators.TemporalJoins.resampleOhlc(
      rows.toDF("k", "ts", "eid", "v"), "k", "ts", "v", "eid")
      .as[(Long, Timestamp, Double, Double, Double, Double, Long, Double)]
      .collect().toSet
    assert(got == batch, s"streamed bars diverge from batch:\n$got\n$batch")
    assert(got.contains(
      (1L, ts("2024-01-01 10:00:00"), 5.0, 9.0, 1.0, 7.0, 4L, 5.5)))
  }

  test("hopping-window streaming aggregation matches the batch twin") {
    val rows = Seq(
      (ts("2024-01-01 00:10:00"), "click", 1.0),  // windows 23:30 & 00:00
      (ts("2024-01-01 00:40:00"), "click", 2.0),  // windows 00:00 & 00:30
      (ts("2024-01-01 01:10:00"), "view", 3.0))   // windows 00:30 & 01:00
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    mem.addData(rows: _*)
    val agg = StreamingOps.hoppingEventStats(
      mem.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("hopping_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val got = spark.table("hopping_test")
      .select("w_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // batch twin: the q57 formulation over the same rows
    val want = rows.toDF("ts", "event_type", "value")
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // 3 events × 2 windows each = 6 contributions over 5 distinct
    // (window, type) groups (both clicks share the 00:00 window)
    assert(got == want && got.size == 5 &&
      got.toSeq.map(_._3).sum == 6L,
      s"each event must land in exactly 2 hopping windows (got $got)")
    intercept[IllegalArgumentException] {
      StreamingOps.hoppingEventStats(
        mem.toDF().toDF("ts", "event_type", "value"), slideMinutes = 45)
    }
  }

  test("hopping windows in append mode: beyond-watermark rows drop, closed windows emit once") {
    // The contract complete mode can't exercise: with a 10-minute
    // watermark delay, a row arriving behind the watermark by more than
    // the window length contributes to NOTHING (all its windows are
    // closed), and each finalized window emits exactly once without it.
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Timestamp, String, Long, Double)]()
    def runBatch(): Unit = {
      val q = StreamingOps.hoppingEventStats(
        mem.toDF().toDF("ts", "event_type", "value"),
        watermark = "10 minutes")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            out.add((r.getTimestamp(0), r.getString(1), r.getLong(2),
              r.getDouble(3))))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    // run 1: two on-time clicks; watermark after = 00:40 − 10m = 00:30
    mem.addData((ts("2024-01-01 00:10:00"), "click", 1.0),
      (ts("2024-01-01 00:40:00"), "click", 2.0))
    runBatch()
    // run 2: advance the watermark to 01:50
    mem.addData((ts("2024-01-01 02:00:00"), "click", 0.5))
    runBatch()
    // run 3: 00:05 is behind the 01:50 watermark by more than the 1-hour
    // window — every window it could join is closed → fully dropped;
    // 06:00 advances the watermark to 05:50
    mem.addData((ts("2024-01-01 00:05:00"), "click", 100.0),
      (ts("2024-01-01 06:00:00"), "view", 3.0))
    runBatch()
    // run 4: one more trigger finalizes everything ending ≤ 05:50
    mem.addData((ts("2024-01-01 06:30:00"), "view", 1.0))
    runBatch()
    val closed = out.toArray(Array.empty[(Timestamp, String, Long, Double)]).toSet
    val expected = Set(
      (ts("2023-12-31 23:30:00"), "click", 1L, 1.0),   // 00:10
      (ts("2024-01-01 00:00:00"), "click", 2L, 3.0),   // 00:10 + 00:40
      (ts("2024-01-01 00:30:00"), "click", 1L, 2.0),   // 00:40
      (ts("2024-01-01 01:30:00"), "click", 1L, 0.5),   // 02:00
      (ts("2024-01-01 02:00:00"), "click", 1L, 0.5))   // 02:00
    assert(closed == expected,
      s"late 100.0 row must leave no trace and windows emit once (got $closed)")
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct ids") {
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    mem.addData(
      (1L, ts("2024-01-01 00:00:00"), "a"),
      (1L, ts("2024-01-01 00:00:05"), "a-replay"), // dup id within watermark
      (2L, ts("2024-01-01 00:01:00"), "b"),
      (3L, ts("2024-01-01 00:02:00"), "c"),
      (2L, ts("2024-01-01 00:02:30"), "b-replay")) // dup id within watermark
    val deduped = StreamingOps.dedupStream(
      mem.toDF().toDF("event_id", "ts", "payload"),
      "ts", watermark = "10 minutes", idCols = Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val ids = spark.table("dedup_test")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), "one survivor per event_id")
  }

  test("streaming fingerprint dedup drops token-order shuffles, keeps distinct docs") {
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    mem.addData(
      (1L, ts("2024-01-01 00:00:00"), "the quick brown fox"),
      (2L, ts("2024-01-01 00:01:00"), "fox brown the quick"),   // same token set
      (3L, ts("2024-01-01 00:02:00"), "quick the QUICK fox brown"), // dup tokens + case
      (4L, ts("2024-01-01 00:03:00"), "an entirely different doc"))
    val deduped = StreamingOps.fingerprintDedupStream(
      mem.toDF().toDF("doc_id", "ts", "text"),
      "ts", watermark = "10 minutes", textCol = "text")
    val q = deduped.writeStream.format("memory").queryName("fpdedup_test")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val ids = spark.table("fpdedup_test")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 4L),
      s"2 and 3 share 1's fingerprint and must drop (got $ids)")
    // parity with the batch fingerprint: same grouping key
    val fps = Seq("the quick brown fox", "fox brown the quick",
      "quick the QUICK fox brown").toDF("text")
      .select(graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
      .distinct().count()
    assert(fps == 1L)
  }

  test("fingerprint dedup passes null-text docs through undeduplicated") {
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    mem.addData(
      (1L, ts("2024-01-01 00:00:00"), null),
      (2L, ts("2024-01-01 00:00:30"), null), // distinct doc, unknown text
      (3L, ts("2024-01-01 00:01:00"), ""),   // empty text
      (4L, ts("2024-01-01 00:01:30"), ""),   // true dup of 3 → drops
      (5L, ts("2024-01-01 00:02:00"), "real content"))
    val deduped = StreamingOps.fingerprintDedupStream(
      mem.toDF().toDF("doc_id", "ts", "text"),
      "ts", watermark = "10 minutes", textCol = "text")
    val q = deduped.writeStream.format("memory").queryName("fpnull_test")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val ids = spark.table("fpnull_test")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 5L),
      s"null-text docs must both survive; empty-text dups must not (got $ids)")
  }

  test("fingerprint dedup EVICTS state once the watermark passes it") {
    // the bounded-state contract, asserted on the state store itself:
    // 3 fingerprints enter state; after the watermark advances past
    // their expiry, the store must hold only the fresh entries — not
    // the cumulative history
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    val deduped = StreamingOps.fingerprintDedupStream(
      mem.toDF().toDF("doc_id", "ts", "text"),
      "ts", watermark = "10 minutes", textCol = "text")
    val q = deduped.writeStream.format("memory").queryName("fpevict_test")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 00:00:00"), "doc one"),
        (2L, ts("2024-01-01 00:01:00"), "doc two"),
        (3L, ts("2024-01-01 00:02:00"), "doc three"))
      q.processAllAvailable()
      def stateRows: Long = q.recentProgress
        .flatMap(_.stateOperators).lastOption.map(_.numRowsTotal)
        .getOrElse(-1L)
      assert(stateRows == 3L, s"3 fingerprints must be in state: $stateRows")
      // advance event time far past 00:02 + 10m; the watermark updates
      // at batch END, so a second batch is needed to apply eviction
      mem.addData((4L, ts("2024-01-01 01:00:00"), "doc four"))
      q.processAllAvailable()
      mem.addData((5L, ts("2024-01-01 01:01:00"), "doc five"))
      q.processAllAvailable()
      assert(stateRows == 2L,
        s"watermark-expired fingerprints must evict (state: $stateRows)")
    } finally q.stop()
  }

  test("streaming OHLC emits closed bars in append mode and evicts state") {
    val mem = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val bars = StreamingOps.ohlcStream(
      mem.toDF().toDF("k", "ts", "eid", "v"), "k", "ts", "v", "eid",
      watermark = "30 minutes")
    val q = bars.writeStream.format("memory").queryName("ohlc_evict")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, 5.0),
        (1L, ts("2024-01-01 10:40:00"), 2L, 9.0))
      q.processAllAvailable()
      assert(spark.table("ohlc_evict").count() == 0,
        "open window must not emit in append mode")
      def stateRows: Long = q.recentProgress
        .flatMap(_.stateOperators).lastOption.map(_.numRowsTotal)
        .getOrElse(-1L)
      assert(stateRows == 1L, s"one open bar in state: $stateRows")
      // event time far past 11:00 + 30m closes hour 10; watermark
      // applies at the NEXT batch
      mem.addData((1L, ts("2024-01-01 12:00:00"), 3L, 2.0))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 12:10:00"), 4L, 3.0))
      q.processAllAvailable()
      val closed = spark.table("ohlc_evict")
        .as[(Long, Timestamp, Double, Double, Double, Double, Long, Double)]
        .collect().toSet
      assert(closed == Set(
        (1L, ts("2024-01-01 10:00:00"), 5.0, 9.0, 5.0, 9.0, 2L, 7.0)),
        s"hour 10 must close exactly once: $closed")
      assert(stateRows == 1L,
        s"closed bar must evict; only hour 12 stays open: $stateRows")
    } finally q.stop()
  }

  test("streaming decontamination matches the batch operator per micro-batch") {
    import org.apache.spark.sql.DataFrame
    val bench = Seq((100L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val corpusRows = Seq(
      (1L, "we saw the quick brown fox jumps high"), // contaminated
      (2L, "totally unrelated text about engines"),
      (3L, "tiny"))                                   // < n tokens → survives
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(corpusRows: _*)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamingOps.decontaminateStream(
      mem.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", n = 5,
      s"/tmp/graft-stream-ckpt-${System.nanoTime()}") { clean: DataFrame =>
      got.synchronized { got ++= clean.select("doc_id").as[Long].collect() }
    }
    q.awaitTermination(30000)
    val batchWant = graft.operators.Curation.decontaminate(
      corpusRows.toDF("doc_id", "text"), bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got.sorted.toSeq == batchWant && batchWant == Seq(2L, 3L))
  }

  test("streaming PSI monitor scores each micro-batch against the reference") {
    import org.apache.spark.sql.DataFrame
    val reference = Seq(1.0, 5.0, 5.0, 12.0, 25.0).toDF("value")
    val mem = MemoryStream[Double](spark)
    mem.addData(1.0, 5.0, 5.0, 12.0, 25.0) // identical to the reference
    val reports = scala.collection.mutable.ArrayBuffer[Seq[(Int, Double)]]()
    val q = StreamingOps.psiMonitorStream(
      mem.toDF().toDF("value"), reference, "value",
      lo = 0.0, hi = 30.0, nBins = 3,
      s"/tmp/graft-stream-ckpt-${System.nanoTime()}") { rep: DataFrame =>
      reports.synchronized {
        reports += rep.select("bin", "psi").as[(Int, Double)]
          .collect().toSeq
      }
    }
    q.awaitTermination(30000)
    // identical distribution → psi 0 on every spine bin, exactly the
    // batch operator's answer on the same frames
    assert(reports.nonEmpty)
    assert(reports.head.map(_._1) == Seq(-2, -1, 0, 1, 2, 3))
    assert(reports.head.forall(_._2 == 0.0),
      s"identical micro-batch must score zero drift: ${reports.head}")
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
    q.processAllAvailable(); q.stop()
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
    q2.processAllAvailable(); q2.stop()
    val got2 = spark.table("c4_stream").orderBy("doc_id").collect().toSeq
    val want2 = graft.operators.TextAnalysis.c4LineFilter(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(got2 == want2, s"streamed c4 output diverges:\n$got2\n$want2")
  }

  test("stream-stream interval join matches the batch inequality join") {
    val clicks = MemoryStream[(Long, Timestamp, Long)](spark)
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    clicks.addData(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 10:20:00"), 101L),  // both within 30 min of p1
      (1L, ts("2024-01-01 09:00:00"), 102L),  // too old for p1
      (2L, ts("2024-01-01 10:25:00"), 103L))  // other user
    purchases.addData(
      (1L, ts("2024-01-01 10:29:00"), 200L, 9.99),
      (2L, ts("2024-01-01 10:26:00"), 201L, 5.00))
    val cDf = clicks.toDF().toDF("user_id", "ts", "event_id")
    val pDf = purchases.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = StreamingOps.purchaseAttribution(cDf, pDf)
      .writeStream.format("memory").queryName("attrib_test")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val got = spark.table("attrib_test")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(got == Set((200L, 100L), (200L, 101L), (201L, 103L)))
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
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
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
    // session_start. Two AvailableNow runs over ONE checkpoint force the
    // deterministic batch boundary (flatMapGroupsWithState state is
    // checkpointed, so run 2 resumes run 1's session state). The sink is
    // foreachBatch — the memory sink refuses checkpoint recovery, and
    // processAllAvailable() on a single continuous query never returns
    // under ProcessingTimeTimeout (the engine schedules timeout-check
    // batches forever, so `noNewData` never latches).
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
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
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
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
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
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
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
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
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

  test("streaming SCD2 emits exactly the batch twin's closed intervals") {
    val b1 = Seq(
      StreamingOps.Event(1L, ts("2024-01-01 00:00:00"), "A"),
      StreamingOps.Event(1L, ts("2024-01-01 01:00:00"), "A"),
      StreamingOps.Event(1L, ts("2024-01-01 02:00:00"), "B"),
      StreamingOps.Event(2L, ts("2024-01-01 00:30:00"), "X"))
    val b2 = Seq(
      StreamingOps.Event(1L, ts("2024-01-01 03:00:00"), "A"), // closes B
      StreamingOps.Event(2L, ts("2024-01-01 04:00:00"), "X"), // extends X
      StreamingOps.Event(2L, ts("2024-01-01 05:00:00"), "Y")) // closes X
    val mem = MemoryStream[StreamingOps.Event](spark)
    val q = StreamingOps.scd2Stream(mem.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("scd2_stream")
      .select("user_id", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Timestamp, Int)].collect().toSet
    // batch twin over the union: its CLOSED rows are the contract
    val batch = graft.operators.TemporalJoins.scd2Collapse(
      (b1 ++ b2).toDF().select($"user_id", $"ts", $"event_type"),
      "user_id", "ts", "event_type", tiebreak = "event_type")
      .filter($"valid_to".isNotNull)
      .select($"user_id", $"state", $"valid_from", $"valid_to",
        $"n_events".cast("int"))
      .as[(Long, String, Timestamp, Timestamp, Int)].collect().toSet
    assert(got == batch, s"streamed closed intervals diverge:\n$got\n$batch")
    assert(got == Set(
      (1L, "A", ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00"), 2),
      (1L, "B", ts("2024-01-01 02:00:00"), ts("2024-01-01 03:00:00"), 1),
      (2L, "X", ts("2024-01-01 00:30:00"), ts("2024-01-01 05:00:00"), 2)))
  }

  test("streaming SCD2: a late cross-batch event cannot retro-split history") {
    val mem = MemoryStream[StreamingOps.Event](spark)
    val q = StreamingOps.scd2Stream(mem.toDS(), watermark = "10 hours")
      .writeStream.format("memory").queryName("scd2_late")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .start()
    mem.addData(
      StreamingOps.Event(1L, ts("2024-01-01 02:00:00"), "A"),
      StreamingOps.Event(1L, ts("2024-01-01 03:00:00"), "A"))
    q.processAllAvailable()
    // late, within-watermark, DIFFERENT state, behind the open run:
    // emitted as its own closed singleton, open A run untouched
    mem.addData(StreamingOps.Event(1L, ts("2024-01-01 00:30:00"), "Q"))
    q.processAllAvailable()
    // late SAME state: merges into the open run (extends start), no emit
    mem.addData(StreamingOps.Event(1L, ts("2024-01-01 01:30:00"), "A"))
    q.processAllAvailable()
    // a new state closes the open run: valid_from must reflect the
    // merged 01:30 start and n the merged count
    mem.addData(StreamingOps.Event(1L, ts("2024-01-01 06:00:00"), "B"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scd2_late")
      .select("user_id", "state", "valid_from", "valid_to", "n_events")
      .as[(Long, String, Timestamp, Timestamp, Int)].collect().toSet
    assert(got == Set(
      (1L, "Q", ts("2024-01-01 00:30:00"), ts("2024-01-01 00:30:00"), 1),
      (1L, "A", ts("2024-01-01 01:30:00"), ts("2024-01-01 06:00:00"), 3)))
  }

  test("trending terms stream equals the batch tokenize+window aggregate") {
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "spark spark rules"),
      (ts("2024-01-01 10:40:00"), "spark streams"),
      (ts("2024-01-01 11:10:00"), "totally different"))
    val mem = MemoryStream[(Timestamp, String)](spark)
    mem.addData(rows: _*)
    val agg = StreamingOps.trendingTermsStream(
      mem.toDF().toDF("ts", "text"), "ts", "text", minCount = 2)
    val q = agg.writeStream.format("memory").queryName("trend_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val got = spark.table("trend_stream")
      .as[(Timestamp, String, Long)].collect().toSet
    // hour 10: spark ×3 survives the minCount=2 cut; everything else
    // (rules, streams, hour-11 singletons) is noise-cut
    assert(got == Set((ts("2024-01-01 10:00:00"), "spark", 3L)), got.toString)
  }

  test("trending terms stream emits closed windows and evicts state") {
    val mem = MemoryStream[(Timestamp, String)](spark)
    val agg = StreamingOps.trendingTermsStream(
      mem.toDF().toDF("ts", "text"), "ts", "text",
      watermark = "30 minutes", minCount = 1)
    val q = agg.writeStream.format("memory").queryName("trend_evict")
      .outputMode("append")
      .option("checkpointLocation",
        s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), "alpha beta"),
        (ts("2024-01-01 10:40:00"), "alpha"))
      q.processAllAvailable()
      assert(spark.table("trend_evict").count() == 0,
        "open window must not emit in append mode")
      def stateRows: Long = q.recentProgress
        .flatMap(_.stateOperators).lastOption.map(_.numRowsTotal)
        .getOrElse(-1L)
      assert(stateRows == 2L, s"two open terms in state: $stateRows")
      mem.addData((ts("2024-01-01 12:00:00"), "gamma"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:10:00"), "gamma"))
      q.processAllAvailable()
      val closed = spark.table("trend_evict")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(closed == Set(
        (ts("2024-01-01 10:00:00"), "alpha", 2L),
        (ts("2024-01-01 10:00:00"), "beta", 1L)),
        s"hour 10 must close exactly once: $closed")
      assert(stateRows == 1L,
        s"closed window must evict; only hour 12's gamma stays: $stateRows")
    } finally q.stop()
  }

  test("trending terms: out-of-order replay past the watermark cannot " +
      "mutate an emitted window") {
    // The disorder contract append mode is FOR: once the watermark
    // closes a window and its counts emit, a late row targeting that
    // window must leave no trace — no second emission, no updated
    // count — while a disordered row still AHEAD of the watermark
    // counts normally. Replayed across separate AvailableNow runs so
    // each batch's watermark is the previous run's high-mark.
    val mem = MemoryStream[(Timestamp, String)](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Timestamp, String, Long)]()
    def runBatch(): Unit = {
      val q = StreamingOps.trendingTermsStream(
        mem.toDF().toDF("ts", "text"), "ts", "text",
        watermark = "30 minutes", minCount = 1)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            out.add((r.getTimestamp(0), r.getString(1), r.getLong(1 + 1))))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    // run 1: hour-10 window opens; watermark after = 10:40 − 30m = 10:10
    mem.addData(
      (ts("2024-01-01 10:05:00"), "alpha"),
      (ts("2024-01-01 10:40:00"), "alpha beta"))
    runBatch()
    // run 2: DISORDERED but watermark-ahead row (10:20 > 10:10) still
    // counts toward the open hour-10 window; 12:00 advances the
    // watermark to 11:30, closing and emitting hour 10
    mem.addData(
      (ts("2024-01-01 10:20:00"), "alpha"),
      (ts("2024-01-01 12:00:00"), "gamma"))
    runBatch()
    val afterClose = out.toArray(Array.empty[(Timestamp, String, Long)]).toSet
    assert(afterClose == Set(
      (ts("2024-01-01 10:00:00"), "alpha", 3L),
      (ts("2024-01-01 10:00:00"), "beta", 1L)),
      s"hour 10 must emit once, with the disordered 10:20 row: $afterClose")
    // run 3: replay targets the CLOSED hour-10 window (10:15 is behind
    // the 11:30 watermark) — must leave no trace; 13:45 pushes the
    // watermark to 13:15 ≥ 13:00, closing hour 12
    mem.addData(
      (ts("2024-01-01 10:15:00"), "alpha"),
      (ts("2024-01-01 13:45:00"), "delta"))
    runBatch()
    val afterReplay = out.toArray(Array.empty[(Timestamp, String, Long)]).toSet
    assert(afterReplay == afterClose ++ Set(
      (ts("2024-01-01 12:00:00"), "gamma", 1L)),
      "a closed window is immutable: the late alpha must not re-emit " +
        s"or update hour 10 (got $afterReplay)")
  }

  test("quotaCapStream: first-arrival budget across batches, state = 1 counter/group") {
    val mem = MemoryStream[StreamingOps.QuotaDoc](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def runBatch(): Unit = {
      val q = StreamingOps.quotaCapStream(mem.toDS(), quota = 3)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingOps.QuotaDoc],
           _: Long) =>
            df.collect().foreach(d => out.add((d.group, d.doc_id)))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    def qd(g: String, id: Long, t: String) =
      StreamingOps.QuotaDoc(g, id, ts(t))
    // batch 1: two docs for a, one for b — all inside the budget
    mem.addData(qd("a", 2L, "2024-01-01 00:02:00"),
      qd("a", 1L, "2024-01-01 00:01:00"),
      qd("b", 10L, "2024-01-01 00:01:00"))
    runBatch()
    assert(out.toArray.toSet ==
      Set(("a", 1L), ("a", 2L), ("b", 10L)), out.toString)
    // batch 2: three more for a — only ONE fits; the (ts, id)-smallest
    // of the batch wins, not arrival order in the addData call
    out.clear()
    mem.addData(qd("a", 9L, "2024-01-01 00:09:00"),
      qd("a", 5L, "2024-01-01 00:05:00"),
      qd("a", 7L, "2024-01-01 00:05:00"))
    runBatch()
    assert(out.toArray.toSet == Set(("a", 5L)), out.toString)
    // batch 3: a is exhausted forever; b still has budget
    out.clear()
    mem.addData(qd("a", 99L, "2024-01-01 00:20:00"),
      qd("b", 11L, "2024-01-01 00:02:00"))
    runBatch()
    assert(out.toArray.toSet == Set(("b", 11L)), out.toString)
  }

  test("quotaCapStream rejects a non-positive quota") {
    val mem = MemoryStream[StreamingOps.QuotaDoc](spark)
    intercept[IllegalArgumentException] {
      StreamingOps.quotaCapStream(mem.toDS(), quota = 0)
    }
  }

  test("incremental corpus card: stream fold == one-shot batch card on the union") {
    import graft.operators.{Sketch, TextAnalysis}
    val mem = MemoryStream[(String, String, String)](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val b1 = Seq(("alpha beta gamma", "s1", "en"),
      ("beta beta delta", "s1", "de"), ("", "s2", "en"))
    val b2 = Seq(("gamma epsilon", "s3", "en"),
      ("alpha zeta eta theta", "s1", "fr"))
    // ONE card handle spans both AvailableNow() runs over the shared
    // checkpoint — the card is driver state (the schema-drift monitor
    // usage pattern); a fresh handle per run would reset the fold
    val card = new StreamingOps.IncrementalCorpusCard
    mem.addData(b1: _*)
    val q1 = mem.toDF().toDF("text", "source", "lang").writeStream
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        card.update(df)
      }.start()
    q1.awaitTermination(60000)
    mem.addData(b2: _*)
    val q2 = mem.toDF().toDF("text", "source", "lang").writeStream
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        card.update(df)
      }.start()
    q2.awaitTermination(60000)
    val got = card.current
    // batch twin over the union
    val union = (b1 ++ b2).toDF("text", "source", "lang")
    assert(got.nDocs === 5L)
    assert(got.nEmpty === 1L)
    assert(got.totalChars ===
      (b1 ++ b2).map(_._1.length.toLong).sum)
    assert(got.totalTokens ===
      (b1 ++ b2).map(_._1.split("\\s+").count(_.nonEmpty).toLong).sum)
    assert(got.sources === Set("s1", "s2", "s3"))
    assert(got.langs === Set("en", "de", "fr"))
    // the streamed registers are BIT-identical to the one-shot batch
    // sketch of the union (max-merge associativity), not merely close
    val batchRegs = Sketch.hllRegisters(
      union.select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
      "tok", Seq.empty)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got.vocabRegisters === batchRegs)
    // and the estimate goes through the same estimator
    val batchEst = Sketch.hllEstimate(
      batchRegs.toSeq.toDF("bucket", "reg"), Seq.empty)
      .head().getDouble(0)
    assert(card.vocabEstimate(spark) === batchEst)
  }

  test("corpusCardStream wiring: one run folds the available batches") {
    val mem = MemoryStream[(String, String, String)](spark)
    mem.addData(("one two", "sA", "en"), ("three", "sB", "en"))
    val (inc, q) = StreamingOps.corpusCardStream(
      mem.toDF().toDF("text", "source", "lang"),
      s"/tmp/graft-stream-ckpt-${System.nanoTime()}")
    q.awaitTermination(60000)
    val got = inc.current
    assert(got.nDocs === 2L)
    assert(got.totalTokens === 3L)
    assert(got.sources === Set("sA", "sB"))
    assert(inc.vocabEstimate(spark) > 0.0)
  }

  test("incremental rollup: streamed state == one-shot batch state, bit-identical") {
    import graft.operators.Scale
    val mem = MemoryStream[(String, Option[Double])](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val b1 = Seq(("a", Option(10.25)), ("a", Option(3.75)),
      ("b", Option(1.0)))
    val b2 = Seq(("a", Option(99.0)), ("b", Option(2.0)),
      ("c", Option.empty[Double]), ("c", Option(7.77)))
    mem.addData(b1: _*)
    // first run through the wiring helper; the SAME handle then folds
    // the second AvailableNow run (driver state, the card pattern)
    val (inc, q1) = StreamingOps.rollupStream(
      mem.toDF().toDF("k", "v"), Seq("k"), "v", ckpt)
    q1.awaitTermination(60000)
    mem.addData(b2: _*)
    val q2 = mem.toDF().toDF("k", "v").writeStream
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        inc.update(df)
      }.start()
    q2.awaitTermination(60000)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq.map {
        case d: java.math.BigDecimal => d.toBigInteger
        case x => x
      })
    // the raw STATE frames are bit-identical, not merely close
    val streamedState = canon(inc.currentState(spark))
    val batchState = canon(Scale.aggState(
      (b1 ++ b2).toDF("k", "v"), Seq("k"), "v"))
    assert(streamedState === batchState)
    // and so is everything finalize derives
    val fs = canon(Scale.finalizeAggState(inc.currentState(spark), Seq("k")))
    val fb = canon(Scale.finalizeAggState(Scale.aggState(
      (b1 ++ b2).toDF("k", "v"), Seq("k"), "v"), Seq("k")))
    assert(fs === fb)
  }

  test("streaming CDC dedup equals the batch operator and survives restart") {
    // boundary token found empirically (bucket16 % 8 == 0), as in
    // DedupSpec — the fixture stays honest about the boundary rule
    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(md.substring(0, 4), 16) % 8
    }
    val words = (1 to 200).map(i => s"w$i")
    val b = words.find(bucket(_) == 0).get
    val plain = words.filter(bucket(_) != 0)
    val a4 = plain.take(4).mkString(" ")
    val tail3 = plain.slice(4, 7).mkString(" ")
    val batch1 = Seq(
      (1L, s"$a4 $b $tail3"),
      (2L, s"$a4 $b $tail3"))          // full dup within batch 1
    val batch2 = Seq(
      (3L, s"${plain(8)} $a4 $b $tail3"), // head chunk new, tail dup
      (4L, plain.slice(9, 12).mkString(" ")))
    val key = System.nanoTime()
    val state = s"/tmp/graft-cdc-state-$key"
    val ckpt = s"/tmp/graft-cdc-ckpt-$key"
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    val mem = MemoryStream[(Long, String)](spark)
    def run(): Unit = {
      val q = StreamingOps.cdcDedupStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        state, ckpt) { rep =>
        reports ++= rep.as[(Long, Long, Long, Long, Long)].collect()
      }
      q.awaitTermination(60000)
    }
    mem.addData(batch1: _*)
    run()
    // RESTART: a fresh query on the same checkpoint + digest store
    // resumes exactly where the first stopped
    mem.addData(batch2: _*)
    run()
    val streamed = reports.sortBy(_._1).toList
    val batchTwin = graft.operators.Dedup.cdcChunkDedup(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(streamed == batchTwin,
      s"streamed $streamed != batch $batchTwin")
    // the cross-batch duplicate actually dropped something
    assert(streamed.find(_._1 == 3L).get._4 == 1L,
      "doc 3's boundary-started chunk must dedup against batch 1")
  }

  test("streaming CDC dedup replays a batch idempotently (at-least-once)") {
    // foreachBatch is at-least-once: a crash after the digest-store
    // append but before the checkpoint commit re-runs the SAME batchId
    // against a store already holding the batch's own digests. Simulate
    // exactly that: run batch 1 (store gains _batch_id=0), then replay
    // batch 1 under a FRESH checkpoint (batchId restarts at 0) against
    // the SAME store — the replayed report must be identical to the
    // first run's (own-batch digests excluded from `seen`), and the
    // store must hold no duplicate digest rows (partition overwritten,
    // not appended).
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"))
    val key = System.nanoTime()
    val state = s"/tmp/graft-cdc-replay-state-$key"
    def runOnce(ckpt: String): List[(Long, Long, Long, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      val mem = MemoryStream[(Long, String)](spark)
      mem.addData(docs: _*)
      val q = StreamingOps.cdcDedupStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        state, ckpt) { rep =>
        out ++= rep.as[(Long, Long, Long, Long, Long)].collect()
      }
      q.awaitTermination(60000)
      out.sortBy(_._1).toList
    }
    val first = runOnce(s"/tmp/graft-cdc-replay-ckpt-$key-a")
    val replayed = runOnce(s"/tmp/graft-cdc-replay-ckpt-$key-b")
    assert(replayed == first,
      s"replayed batch report diverged: $replayed != $first")
    // no duplicate digests in the store, and nothing beyond batch 0
    val store = spark.read.parquet(state)
    assert(store.count() == store.select("_d").distinct().count(),
      "replay must not append duplicate digest rows")
    assert(store.select("_batch_id").distinct().count() == 1)
  }

  test("streaming winnowing gate equals the per-batch operator, " +
      "survives restart, replays idempotently") {
    import graft.operators.Dedup
    // batch 1 seeds two docs; batch 2 (after restart) holds an exact
    // replica of doc 1 (must flag against the store), a near replica
    // of doc 2 sharing a long run, and a novel doc
    val d1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val d2 = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    val batch1 = Seq((1L, d1), (2L, d2))
    val batch2 = Seq(
      (10L, d1),                                  // exact replica of 1
      (11L, s"y1 y2 x1 x2 x3 x4 x5 x6 x7 x8 y3"), // shared run with 2
      (12L, "z1 z2 z3 z4 z5 z6 z7 z8"))           // novel
    val key = System.nanoTime()
    val state = s"/tmp/graft-winnow-stream-state-$key"
    // ONE MemoryStream spans run 1 and the restart (the checkpoint's
    // offsets belong to the source instance); the replay leg below
    // uses a fresh source + fresh checkpoint against the same store
    def runOnce(ckpt: String, mem: MemoryStream[(Long, String)])
        : List[(Long, Long, Long, Option[Long], Long, Boolean)] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Option[Long], Long, Boolean)]
      val q = StreamingOps.winnowDedupStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        state, ckpt, minShared = 1) { rep =>
        out ++= rep.as[(Long, Long, Long, Option[Long], Long, Boolean)]
          .collect() }
      q.awaitTermination(60000)
      out.sortBy(_._1).toList
    }
    val ckptA = s"/tmp/graft-winnow-stream-ckpt-$key-a"
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(batch1: _*)
    val rep1 = runOnce(ckptA, mem)
    // batch 1 vs an empty store: the batch-operator twin
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "fingerprint")
    val twin1 = Dedup.winnowDedupAgainstStore(
      batch1.toDF("doc_id", "text"), "doc_id", "text", empty,
      minShared = 1)
      .as[(Long, Long, Long, Option[Long], Long, Boolean)]
      .collect().toList.sortBy(_._1)
    assert(rep1 == twin1, s"batch 1: $rep1 != $twin1")
    assert(rep1.forall(!_._6), "an empty store flags nothing")
    // RESTART: same checkpoint + store; batch 2's report must equal
    // the operator against batch 1's accepted fingerprints
    mem.addData(batch2: _*)
    val rep2 = runOnce(ckptA, mem)
    val twin2 = Dedup.winnowDedupAgainstStore(
      batch2.toDF("doc_id", "text"), "doc_id", "text",
      Dedup.winnowFingerprints(batch1.toDF("doc_id", "text"),
        "doc_id", "text"), minShared = 1)
      .as[(Long, Long, Long, Option[Long], Long, Boolean)]
      .collect().toList.sortBy(_._1)
    assert(rep2 == twin2, s"batch 2: $rep2 != $twin2")
    val exact = rep2.find(_._1 == 10L).get
    assert(exact._4 == Some(1L) && exact._6,
      s"exact replica must flag against store doc 1: $exact")
    assert(rep2.find(_._1 == 11L).get._6,
      "the shared 8-token run must flag doc 11 at minShared=1 " +
        "(positional guarantee: >= 1 shared fingerprint)")
    assert(!rep2.find(_._1 == 12L).get._6)
    // REPLAY: fresh checkpoint, same store — batchId restarts at 0,
    // simulating the crash-after-append-before-commit replay of
    // batch 1; the report must be byte-identical to the first run and
    // the store must hold no duplicate (doc, fingerprint) rows
    val mem2 = MemoryStream[(Long, String)](spark)
    mem2.addData(batch1: _*)
    val replayed = runOnce(s"/tmp/graft-winnow-stream-ckpt-$key-b", mem2)
    assert(replayed == rep1, s"replayed: $replayed != $rep1")
    val store = spark.read.parquet(state)
    assert(store.count() ==
      store.select("doc_id", "fingerprint").distinct().count(),
      "replay must not duplicate store fingerprint rows")
  }

  test("streaming embedding gate equals the per-batch operator, " +
      "survives restart, replays idempotently") {
    import graft.operators.Similarity
    val v1 = Seq(1.0, 0.0, 0.0, 0.0)
    val v2 = Seq(0.0, 1.0, 0.0, 0.0)
    val v3 = Seq(0.0, 0.0, 1.0, 0.0)
    val batch1 = Seq((1L, v1), (2L, v2))
    val batch2 = Seq((10L, v1), (11L, v3)) // 10 = exact dup of 1
    val key = System.nanoTime()
    val state = s"/tmp/graft-embed-stream-state-$key"
    def runOnce(ckpt: String, mem: MemoryStream[(Long, Seq[Double])])
        : List[(Long, Long, Option[Long], Option[Double], Boolean)] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Option[Long], Option[Double], Boolean)]
      val q = StreamingOps.semDedupStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        state, ckpt, tau = 0.99, nCells = 1) { rep =>
        out ++= rep
          .as[(Long, Long, Option[Long], Option[Double], Boolean)]
          .collect() }
      q.awaitTermination(60000)
      out.sortBy(_._1).toList
    }
    val ckptA = s"/tmp/graft-embed-stream-ckpt-$key-a"
    val mem = MemoryStream[(Long, Seq[Double])](spark)
    mem.addData(batch1: _*)
    val rep1 = runOnce(ckptA, mem)
    // batch 1 vs the empty store: everything clean, the operator twin
    val emptyStore = Seq.empty[(Long, Seq[Double])]
      .toDF("vec_id", "embedding")
    val twin1 = Similarity.semDedupAgainstStore(
      batch1.toDF("vec_id", "embedding"), "vec_id", "embedding",
      emptyStore, tau = 0.99, nCells = 1)
      .as[(Long, Long, Option[Long], Option[Double], Boolean)]
      .collect().toList.sortBy(_._1)
    assert(rep1 == twin1, s"batch 1: $rep1 != $twin1")
    assert(rep1.forall(r => !r._5 && r._2 == 0L))
    // restart: batch 2 vs batch 1's accepted vectors
    mem.addData(batch2: _*)
    val rep2 = runOnce(ckptA, mem)
    val twin2 = Similarity.semDedupAgainstStore(
      batch2.toDF("vec_id", "embedding"), "vec_id", "embedding",
      batch1.toDF("vec_id", "embedding"), tau = 0.99, nCells = 1)
      .as[(Long, Long, Option[Long], Option[Double], Boolean)]
      .collect().toList.sortBy(_._1)
    assert(rep2 == twin2, s"batch 2: $rep2 != $twin2")
    val dup = rep2.find(_._1 == 10L).get
    assert(dup._3 == Some(1L) && dup._4 == Some(1.0) && dup._5,
      s"exact vector replica must flag against store vec 1: $dup")
    assert(!rep2.find(_._1 == 11L).get._5, "orthogonal vector is clean")
    // replay: fresh checkpoint, same store — batchId restarts at 0,
    // so `seen` must exclude EXACTLY the own-batch partition (batch
    // 1's rows) while still seeing batch 2's accepted vector; the
    // report must equal the operator against that store slice, and
    // the store must not grow duplicate rows
    val mem2 = MemoryStream[(Long, Seq[Double])](spark)
    mem2.addData(batch1: _*)
    val replayed = runOnce(s"/tmp/graft-embed-stream-ckpt-$key-b", mem2)
    val twinReplay = Similarity.semDedupAgainstStore(
      batch1.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Seq((11L, v3)).toDF("vec_id", "embedding"),
      tau = 0.99, nCells = 1)
      .as[(Long, Long, Option[Long], Option[Double], Boolean)]
      .collect().toList.sortBy(_._1)
    assert(replayed == twinReplay, s"replayed: $replayed != $twinReplay")
    assert(replayed.forall(!_._5),
      "replayed batch must not flag against its own crashed append")
    val store = spark.read.parquet(state)
    assert(store.count() == store.select("vec_id").distinct().count(),
      "replay must not duplicate store vector rows")
  }

  test("streaming CUSUM monitor equals the batch operator across " +
      "time-ordered batches and survives restart") {
    // the DriftSpec fixture split in event-time order: the carry must
    // hand S+ = 2 units into batch 2 so row 3 reaches 4, not 2
    val rows = Seq(
      ("g", 1L, ts("2024-01-01 00:00:01"), 1.0),
      ("g", 2L, ts("2024-01-01 00:00:02"), 4.0),
      ("g", 3L, ts("2024-01-01 00:00:03"), 4.0),
      ("g", 4L, ts("2024-01-01 00:00:04"), 1.0),
      ("h", 5L, ts("2024-01-01 00:00:01"), 2.0),
      ("h", 6L, ts("2024-01-01 00:00:05"), 9.0))
    val (batch1, batch2) = rows.partition(_._3.getTime <=
      ts("2024-01-01 00:00:02").getTime)
    val key = System.nanoTime()
    val state = s"/tmp/graft-cusum-state-$key"
    val ckpt = s"/tmp/graft-cusum-ckpt-$key"
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Timestamp, Long, Long, Long, Boolean, Boolean)]
    val mem = MemoryStream[(String, Long, Timestamp, Double)](spark)
    def run(): Unit = {
      val q = StreamingOps.cusumMonitorStream(
        mem.toDF().toDF("g", "id", "t", "v"), "g", "id", "t", "v",
        targetMicro = 2000000L, slackMicro = 0L,
        thresholdMicro = 2500000L, state, ckpt) { rep =>
        out ++= rep.as[(String, Long, Timestamp, Long, Long, Long,
          Boolean, Boolean)].collect()
      }
      q.awaitTermination(60000)
    }
    mem.addData(batch1: _*)
    run()
    // RESTART: fresh query, same checkpoint + carry store
    mem.addData(batch2: _*)
    run()
    val streamed = out.sortBy(_._2).toList
    val batchTwin = graft.operators.Drift.cusumChangepoints(
      rows.toDF("g", "id", "t", "v"), "g", "id", "t", "v",
      2000000L, 0L, 2500000L)
      .as[(String, Long, Timestamp, Long, Long, Long, Boolean, Boolean)]
      .collect().sortBy(_._2).toList
    assert(streamed == batchTwin, s"streamed $streamed != $batchTwin")
    assert(streamed.find(_._2 == 3L).get._5 == 4000000L,
      "the batch-2 row must extend batch 1's running sum, not restart it")
  }

  test("streaming CUSUM monitor replays a batch idempotently") {
    val rows = Seq(
      ("g", 1L, ts("2024-01-01 00:00:01"), 5.0),
      ("g", 2L, ts("2024-01-01 00:00:02"), 5.0))
    val key = System.nanoTime()
    val state = s"/tmp/graft-cusum-replay-state-$key"
    def runOnce(ckpt: String) = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long)]
      val mem = MemoryStream[(String, Long, Timestamp, Double)](spark)
      mem.addData(rows: _*)
      val q = StreamingOps.cusumMonitorStream(
        mem.toDF().toDF("g", "id", "t", "v"), "g", "id", "t", "v",
        0L, 0L, 1000000L, state, ckpt) { rep =>
        out ++= rep.select("g", "id", "s_hi_micro", "s_lo_micro")
          .as[(String, Long, Long, Long)].collect()
      }
      q.awaitTermination(60000)
      out.sortBy(_._2).toList
    }
    val first = runOnce(s"/tmp/graft-cusum-replay-ckpt-$key-a")
    val replayed = runOnce(s"/tmp/graft-cusum-replay-ckpt-$key-b")
    assert(replayed == first,
      s"replayed CUSUM report diverged: $replayed != $first")
    val store = spark.read.parquet(state)
    assert(store.count() == 1L && store.select("_batch_id")
      .distinct().count() == 1L,
      "replay must overwrite its own carry partition, not append")
  }

  test("streaming span gate equals the per-batch operator, " +
      "survives restart, replays idempotently") {
    import graft.operators.Dedup
    val d1 = "Alpha one here. Beta two here. Gamma three here. Delta four here."
    val d2 = "Echo five three words. Foxtrot six more words. Golf seven closing words."
    val batch1 = Seq((1L, d1), (2L, d2))
    val batch2 = Seq(
      (10L, d1),                                        // exact replica
      (11L, "Brand new opening. " + d2),                // shared 3-span
      (12L, "Novel one. Novel two. Novel three."))      // novel
    val key = System.nanoTime()
    val state = s"/tmp/graft-span-stream-state-$key"
    def runOnce(ckpt: String, mem: MemoryStream[(Long, String)])
        : List[(Long, Long, Long, Long, Long, Boolean)] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Boolean)]
      val q = StreamingOps.spanDedupStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        state, ckpt) { rep =>
        out ++= rep.as[(Long, Long, Long, Long, Long, Boolean)]
          .collect() }
      q.awaitTermination(60000)
      out.sortBy(_._1).toList
    }
    val ckptA = s"/tmp/graft-span-stream-ckpt-$key-a"
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(batch1: _*)
    val rep1 = runOnce(ckptA, mem)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "_dig")
    val twin1 = Dedup.spanDedupAgainstStore(
      batch1.toDF("doc_id", "text"), "doc_id", "text", empty)
      .as[(Long, Long, Long, Long, Long, Boolean)]
      .collect().toList.sortBy(_._1)
    assert(rep1 == twin1, s"batch 1: $rep1 != $twin1")
    assert(rep1.forall(!_._6), "an empty store flags nothing")
    mem.addData(batch2: _*)
    val rep2 = runOnce(ckptA, mem)
    val twin2 = Dedup.spanDedupAgainstStore(
      batch2.toDF("doc_id", "text"), "doc_id", "text",
      Dedup.sentenceSpanDigests(batch1.toDF("doc_id", "text"),
        "doc_id", "text"))
      .as[(Long, Long, Long, Long, Long, Boolean)]
      .collect().toList.sortBy(_._1)
    assert(rep2 == twin2, s"batch 2: $rep2 != $twin2")
    assert(rep2.find(_._1 == 10L).get._6, "exact replica flags")
    assert(rep2.find(_._1 == 11L).get._6, "embedded 3-span flags")
    assert(!rep2.find(_._1 == 12L).get._6, "novel doc passes")
    // replay leg: fresh checkpoint, same store
    val mem2 = MemoryStream[(Long, String)](spark)
    mem2.addData(batch1: _*)
    val replayed = runOnce(s"/tmp/graft-span-stream-ckpt-$key-b", mem2)
    assert(replayed == rep1, s"replayed: $replayed != $rep1")
    val store = spark.read.parquet(state)
    assert(store.count() ==
      store.select("doc_id", "_dig").distinct().count(),
      "replay must not duplicate store span rows")
  }
  test("streaming debounce matches the batch operator; state survives restart") {
    // batch reference: TemporalJoins.debounce with the SAME events —
    // key = user_id, payload = event_type, 60 s window
    val events = Seq(
      StreamingOps.Event(1L, ts("2024-01-01 00:00:00"), "click"), // keep
      StreamingOps.Event(1L, ts("2024-01-01 00:00:30"), "click"), // drop
      StreamingOps.Event(1L, ts("2024-01-01 00:01:15"), "click"), // drop (45s after previous EVENT)
      StreamingOps.Event(1L, ts("2024-01-01 00:05:00"), "click"), // keep
      StreamingOps.Event(1L, ts("2024-01-01 00:00:10"), "view"),  // keep (own payload group)
      StreamingOps.Event(2L, ts("2024-01-01 00:00:20"), "click")) // keep (own key)
    val batch = graft.operators.TemporalJoins.debounce(
      events.toDF(), "user_id", "ts", Seq("event_type"), "event_type",
      withinSeconds = 60)
      .select("user_id", "ts", "event_type")
      .as[(Long, Timestamp, String)].collect().toSet
    assert(batch == Set(
      (1L, ts("2024-01-01 00:00:00"), "click"),
      (1L, ts("2024-01-01 00:05:00"), "click"),
      (1L, ts("2024-01-01 00:00:10"), "view"),
      (2L, ts("2024-01-01 00:00:20"), "click")), s"batch: $batch")
    // stream over TWO AvailableNow runs on one checkpoint: the second
    // batch's 00:00:30/00:01:15 stragglers must still drop against the
    // RESTORED state from run 1
    val mem = MemoryStream[StreamingOps.Event](spark)
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Timestamp, String)]()
    def runBatch(): Unit = {
      val q = StreamingOps.debounceStream(mem.toDS(),
        withinSeconds = 60, watermark = "2 hours")
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingOps.Event],
           _: Long) =>
            df.collect().foreach(e =>
              out.add((e.user_id, e.ts, e.event_type)))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    mem.addData(events(0), events(4), events(5))
    runBatch()
    mem.addData(events(1), events(2), events(3))
    runBatch()
    val got = out.toArray(Array.empty[(Long, Timestamp, String)]).toSet
    assert(got == batch, s"stream $got != batch $batch")
  }
  test("streaming phash gate equals the batch operator and replays idempotently") {
    import graft.operators.Multimodal
    def thumbs(rows: Seq[(Long, String)]) =
      Multimodal.syntheticMedia(rows.toDF("i", "t"), "i", "t")
        .select(col("media_id"),
          expr("substring(concat(payload, payload, payload), 1, 72)")
            .as("thumb"))
    val batch1 = Seq((1L, "alpha"), (2L, "beta"))
    val batch2 = Seq((10L, "alpha"), (11L, "wholly new content"))
    val key = System.nanoTime()
    val state = s"/tmp/graft-phash-stream-state-$key"
    def runOnce(ckpt: String, mem: MemoryStream[(Long, String)])
        : List[(Long, Long, Boolean)] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Boolean)]
      val q = StreamingOps.phashDedupStream(
        thumbsFromStream(mem), "media_id", "thumb", state, ckpt) {
        rep =>
          out ++= rep.select("media_id", "n_matches", "is_dup")
            .as[(Long, Long, Boolean)].collect()
      }
      q.awaitTermination(60000)
      out.sortBy(_._1).toList
    }
    def thumbsFromStream(mem: MemoryStream[(Long, String)]) =
      mem.toDF().toDF("i", "t")
        .select(col("i").as("media_id"),
          expr("""substring(concat(
            unhex(concat(md5(t), md5(reverse(t)))),
            unhex(concat(md5(t), md5(reverse(t)))),
            unhex(concat(md5(t), md5(reverse(t))))), 1, 72)""")
            .as("thumb"))
    val ckptA = s"/tmp/graft-phash-stream-ckpt-$key-a"
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(batch1: _*)
    val rep1 = runOnce(ckptA, mem)
    assert(rep1.forall(!_._3), "an empty store flags nothing")
    mem.addData(batch2: _*)
    val rep2 = runOnce(ckptA, mem)
    // batch twin: same batch against the accepted batch-1 hashes
    val storeTwin = thumbs(batch1)
      .select(col("media_id"), Multimodal.dHash64(col("thumb"))
        .as("dhash"))
    val twin2 = Multimodal.phashDedupAgainstStore(
      thumbs(batch2), "media_id", "thumb", storeTwin)
      .select("media_id", "n_matches", "is_dup")
      .as[(Long, Long, Boolean)].collect().toList.sortBy(_._1)
    assert(rep2 == twin2, s"stream $rep2 != batch twin $twin2")
    assert(rep2.find(_._1 == 10L).get._3, "identical thumb flags")
    assert(!rep2.find(_._1 == 11L).get._3, "novel thumb passes")
    // replay on a fresh checkpoint: same report, no store duplication
    val mem2 = MemoryStream[(Long, String)](spark)
    mem2.addData(batch1: _*)
    val replayed = runOnce(s"/tmp/graft-phash-stream-ckpt-$key-b", mem2)
    assert(replayed == rep1, s"replayed $replayed != $rep1")
    val store = spark.read.parquet(state)
    assert(store.count() ==
      store.select("media_id").distinct().count(),
      "replay must not duplicate store hash rows")
  }

  test("streaming seasonal cells equal the batch seasonalProfile counts") {
    val mem = MemoryStream[(String, Timestamp)](spark)
    val rows = Seq(
      ("A", ts("2024-01-01 10:05:00")), // Monday 10h
      ("A", ts("2024-01-01 10:25:00")),
      ("A", ts("2024-01-08 10:45:00")), // next Monday, same cell
      ("A", ts("2024-01-02 10:00:00")), // Tuesday 10h
      ("B", ts("2024-01-07 23:10:00"))) // Sunday → iso 7
    mem.addData(rows: _*)
    val cells = StreamingOps.seasonalCellsStream(
      mem.toDF().toDF("k", "ts"), "k", "ts")
    val q = cells.writeStream.format("memory")
      .queryName("seasonal_cells_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val streamed = spark.table("seasonal_cells_test")
      .as[(String, Int, Int, Long)].collect().toSet
    val batch = graft.operators.TemporalJoins.seasonalProfile(
      rows.toDF("k", "ts"), "k", "ts")
      .select("key", "dow", "hour", "n_events")
      .as[(String, Int, Int, Long)].collect().toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.contains(("A", 1, 10, 3L)), s"$streamed")
  }
}
