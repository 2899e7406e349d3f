package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators the reference lacks entirely (SURVEY.md §2.4
  * lists the schema-diff full-outer join as its only join): as-of join
  * and banded range join, the two workhorses of event/feature pipelines.
  *
  * Scale design (100 TB):
  *   - The naive formulations are inequality joins — Catalyst can only
  *     execute those as broadcast-nested-loop, which explodes at scale.
  *     Both operators here compile to EQUI-joins/window scans instead:
  *   - [[asOf]] is the union+window formulation: tag both sides, union
  *     (no row multiplication), one shuffle+sort on the join key, then a
  *     running `last(ignoreNulls)` fills each left row with the latest
  *     right row at-or-before it. Cost = sort-merge over |L|+|R| — the
  *     same shape Flink/kdb use for as-of.
  *   - [[bandedRangeJoin]] buckets time into `width`-sized bands; each
  *     left row probes its own and the following band, so every
  *     qualifying pair is produced by exactly one equi-join match (band
  *     pruning), never by an n² nested loop. Shuffle keys are
  *     (key, band) — adding the band to the key also shears skew.
  *
  * Skew contract (hot-key fixture in TemporalJoinsSpec):
  *   - [[bandedRangeJoin]]: a key with k× the rows spreads over its
  *     bands — per-task work is bounded by rows-per-(key, band)², not
  *     rows-per-key², so a hot user dilutes across time.
  *   - [[asOf]] (and q28's [[sessionizeBatch]], which shares the
  *     shape): partitioned by the bare key, so one hot key is one
  *     sorted task — O(n log n) in that key's rows, never n². If a
  *     single key outgrows an executor, [[asOfSalted]] pre-splits by
  *     a time-range salt and runs the same window per (key, slice)
  *     with the boundary right-row replicated — same results, bounded
  *     tasks.
  */
object TemporalJoins {

  /** As-of join: for each left row, the single most recent right row with
    * the same `key` and `right.ts <= left.ts` (ties on ts: the right row
    * with the greatest `tiebreak`). Right payload columns arrive
    * prefixed; all-null when no prior right row exists (left outer).
    *
    * The right row is carried as ONE struct through the window, so all
    * payload columns come from the same right row even when some of its
    * fields are null. */
  def asOf(left: DataFrame, right: DataFrame, key: String, tsCol: String,
           rightCols: Seq[String], tiebreak: String,
           prefix: String = "r_"): DataFrame = {
    val payload = rightCols.map(c => col(c).as(c))
    val r = right.select(
      col(key), col(tsCol), col(tiebreak).as("_tb"),
      struct(payload: _*).as("_payload"), lit(0).as("_side"))
    val l = left.withColumn("_side", lit(1))
      .withColumn("_tb", lit(null).cast(r.schema("_tb").dataType))
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before left rows at equal ts (>= semantics); among
    // equal-ts right rows the greatest tiebreak lands last and wins.
    val w = Window.partitionBy(key)
      .orderBy(col(tsCol).asc, col("_side").asc, col("_tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("_match",
      last(when(col("_side") === 0, col("_payload")), ignoreNulls = true)
        .over(w))
    val out = rightCols.foldLeft(filled) { (df, c) =>
      df.withColumn(prefix + c, col("_match")(c))
    }
    out.filter(col("_side") === 1)
      .drop("_side", "_tb", "_payload", "_match")
  }

  /** Gap sessionization (q28): a user's session closes when more than
    * `gapMinutes` pass between consecutive events — the classic
    * gap-window via lag + cumulative session ids. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    // microseconds, like the q28 oracle's epoch_us — unix_millis would
    // truncate sub-ms gap components and disagree exactly at the gap
    // boundary
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

  /** Salted as-of join — the documented hot-key escape hatch for
    * [[asOf]] (scaladoc above): when one key's rows outgrow a single
    * executor's sort, pre-split each key's timeline into
    * `sliceSeconds`-wide slices and run the union+window per
    * (key, slice) instead of per key, so a hot key becomes
    * timeline/sliceSeconds independent sorted tasks.
    *
    * Boundary-row replication is the exactness trick: a left row near a
    * slice's start may need a right row from an EARLIER slice, so each
    * (key, slice) that contains left rows receives one synthetic right
    * row — the champion (max by (ts, tiebreak), the same order the asOf
    * window resolves) of ALL earlier slices. That carry row is computed
    * from per-slice champions (one aggregate over the right side →
    * O(keys × slices) rows, then one running-max window over that tiny
    * frame), never by re-scanning data, so the overhead is one extra
    * map-side-combinable aggregate per side.
    *
    * Semantics equal [[asOf]] (fixture-asserted in TemporalJoinsSpec)
    * with two caveats: `tsCol` must be a non-null TIMESTAMP (slices are
    * epoch-microsecond ranges), and when two right rows tie on BOTH
    * (ts, tiebreak) the carry pick is deterministic by payload while
    * plain asOf leaves it to sort order — pass a unique tiebreak, as
    * as-of joins always should. */
  def asOfSalted(left: DataFrame, right: DataFrame, key: String,
                 tsCol: String, rightCols: Seq[String], tiebreak: String,
                 sliceSeconds: Long, prefix: String = "r_"): DataFrame = {
    require(sliceSeconds > 0, "sliceSeconds must be positive")
    require(left.schema(tsCol).dataType ==
        org.apache.spark.sql.types.TimestampType &&
        right.schema(tsCol).dataType ==
        org.apache.spark.sql.types.TimestampType,
      s"asOfSalted slices epoch microseconds: `$tsCol` must be TIMESTAMP " +
        s"on both sides (left: ${left.schema(tsCol).dataType.simpleString}, " +
        s"right: ${right.schema(tsCol).dataType.simpleString})")
    val us = sliceSeconds * 1000000L
    // floor division (uniform for negative epochs — same rationale as
    // bandedRangeJoin's band computation below). SQL `div` keeps the
    // arithmetic integral (a double `/` loses exactness past 2⁵³ µs);
    // the identifier is backtick-quoted so a ts column whose name needs
    // quoting can't break analysis.
    val tsQuoted = "`" + tsCol.replace("`", "``") + "`"
    def sliceOf = expr(
      s"(unix_micros($tsQuoted) - pmod(unix_micros($tsQuoted), ${us}L)) " +
        s"div ${us}L")
    val payload = rightCols.map(c => col(c).as(c))
    val r = right.select(
        col(key), col(tsCol), col(tiebreak).as("_tb"),
        struct(payload: _*).as("_payload"))
      .withColumn("_slice", sliceOf)
    // champion right row per (key, slice): max by (ts, tb) — struct
    // ordering puts null tb smallest, matching the window's
    // asc_nulls_first/last-wins resolution in asOf
    val tops = r.groupBy(col(key), col("_slice"))
      .agg(max(struct(col(tsCol).as("_ts"), col("_tb"),
        col("_payload"))).as("_top"))
    // every (key, slice) holding left rows needs a carry-in, even when
    // that slice has no right rows at all
    val leftSlices = left.select(col(key), sliceOf.as("_slice")).distinct()
      .withColumn("_isTop", lit(0))
      .withColumn("_top", lit(null).cast(tops.schema("_top").dataType))
    val axis = tops.withColumn("_isTop", lit(1))
      .select(col(key), col("_slice"), col("_isTop"), col("_top"))
      .unionByName(leftSlices)
    // running max over STRICTLY earlier rows: at a left-slice row
    // (slice s, _isTop 0) the frame holds exactly the champions of
    // slices < s (same-slice champions sort after via _isTop)
    val wCarry = Window.partitionBy(key)
      .orderBy(col("_slice").asc, col("_isTop").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = axis.withColumn("_carry", max(col("_top")).over(wCarry))
      .filter(col("_isTop") === 0 && col("_carry").isNotNull)
      .select(col(key), col("_slice"), col("_carry._ts").as(tsCol),
        col("_carry._tb").as("_tb"), col("_carry._payload").as("_payload"))
    // carry rows keep their ORIGINAL ts (< slice start ≤ every in-slice
    // ts), so they sort first inside the slice window and lose to any
    // in-slice right row at-or-before the left row — exactly asOf
    val rightAll = r.select(col(key), col("_slice"), col(tsCol),
        col("_tb"), col("_payload"))
      .unionByName(carries)
      .withColumn("_side", lit(0))
    val l = left.withColumn("_slice", sliceOf)
      .withColumn("_side", lit(1))
      .withColumn("_tb", lit(null).cast(r.schema("_tb").dataType))
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
    val unioned = l.unionByName(rightAll, allowMissingColumns = true)
    val w = Window.partitionBy(col(key), col("_slice"))
      .orderBy(col(tsCol).asc, col("_side").asc, col("_tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("_match",
      last(when(col("_side") === 0, col("_payload")), ignoreNulls = true)
        .over(w))
    val out = rightCols.foldLeft(filled) { (df, c) =>
      df.withColumn(prefix + c, col("_match")(c))
    }
    out.filter(col("_side") === 1)
      .drop("_side", "_tb", "_payload", "_match", "_slice")
  }

  /** Banded range join: all pairs of rows sharing `key` with
    * `0 <= t(b) - t(a) <= widthSeconds` (pairs at equal t ordered by id
    * so each unordered pair appears once). Returns
    * (key, id_a, id_b, gap_us).
    *
    * Each left row probes band k = t div width and band k+1; a
    * qualifying partner can only live in those two bands and matches in
    * exactly one of them, so no distinct pass is needed. */
  def bandedRangeJoin(df: DataFrame, key: String, tsCol: String,
                      idCol: String, widthSeconds: Long): DataFrame = {
    val us = widthSeconds * 1000000L
    val withUs = df.select(col(key), col(idCol), col(tsCol))
      .withColumn("_us", unix_micros(col(tsCol)))
      // floor division, not `div`: SQL div truncates toward zero, which
      // merges [-w, w) into one double-width band around epoch 0 for
      // pre-1970 data (no missed pairs — boundaries stay ≥ w apart —
      // but up to 2× spurious candidates there). pmod is non-negative,
      // so this floors uniformly for any sign.
      .withColumn("_band", expr(s"(_us - pmod(_us, $us)) div $us"))
    val a = withUs.select(col(key), col(idCol).as("id_a"),
      col("_us").as("us_a"),
      explode(array(col("_band"), col("_band") + 1)).as("_band"))
    val b = withUs.select(col(key), col(idCol).as("id_b"),
      col("_us").as("us_b"), col("_band"))
    a.join(b, Seq(key, "_band"))
      .filter((col("us_b") > col("us_a")) ||
        (col("us_b") === col("us_a") && col("id_a") < col("id_b")))
      .filter(col("us_b") - col("us_a") <= us)
      .select(col(key), col("id_a"), col("id_b"),
        (col("us_b") - col("us_a")).as("gap_us"))
  }

  /** SCD-type-2 history collapse: per `key`, order rows by (`tsCol`,
    * `tiebreak`) and merge each maximal run of consecutive rows with the
    * same `stateCol` into one validity interval. Returns
    * (key, state, valid_from, valid_to, n_events) where `valid_from` is
    * the run's first timestamp, `valid_to` the NEXT run's first timestamp
    * (null for the still-current run — the open interval), and
    * `n_events` the run length. This is the batch form of a CDC
    * dimension-history build: an event-sourced attribute stream becomes
    * its type-2 slowly-changing-dimension table.
    *
    * Scale shape: one key-partitioned window pass over the raw rows
    * (run-start detection — a shuffle+sort on `key`, the same shape as
    * sessionize/asOf), then the RUN-START rows only (one per interval,
    * already collapsed) take a second tiny window for interval chaining.
    * No groupBy ever touches the raw rows, a run's rows are never
    * buffered together (run length is a row_number difference, not a
    * collected list), and per-task cost is O(rows-per-key · log) from
    * the sort. Null states form runs like any other value (change
    * detection is null-safe `<=>`); a null timestamp raises — validity
    * intervals from unknown times are meaningless (the guard is fused
    * into the run-start expression, not a separate scan). */
  def scd2Collapse(df: DataFrame, key: String, tsCol: String,
                   stateCol: String, tiebreak: String): DataFrame = {
    require(!df.columns.exists(Seq("_rn", "_n", "_chg").contains),
      "input must not already contain the reserved columns `_rn`/`_n`/`_chg`")
    require(!Seq("state", "valid_from", "valid_to", "n_events").contains(key),
      s"key `$key` collides with an output column name")
    val w = Window.partitionBy(key)
      .orderBy(col(tsCol).asc, col(tiebreak).asc)
    val marked = df
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(key)))
      .withColumn("_chg",
        when(col(tsCol).isNull, raise_error(lit(
          s"scd2Collapse requires non-null `$tsCol`")).cast("int"))
          .when(col("_rn") === 1, lit(1))
          .when(lag(col(stateCol), 1).over(w) <=> col(stateCol), lit(0))
          .otherwise(lit(1)))
    val starts = marked.filter(col("_chg") === 1)
      .select(col(key), col(stateCol).as("state"),
        col(tsCol).as("valid_from"), col("_rn"), col("_n"))
    val wr = Window.partitionBy(key).orderBy(col("_rn").asc)
    starts
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
      .withColumn("n_events",
        coalesce(lead(col("_rn"), 1).over(wr), col("_n") + 1) - col("_rn"))
      .select(col(key), col("state"), col("valid_from"), col("valid_to"),
        col("n_events"))
  }

  /** Interval-overlap self-join: all pairs of intervals sharing `key`
    * that overlap (`max(start) <= min(end)`; touching endpoints count).
    * Returns (key, id_a, id_b, overlap_us) with id_a < id_b, where
    * `overlap_us` is the overlap length in microseconds (0 for a point
    * touch).
    *
    * Equi-join shape (the [[bandedRangeJoin]] principle extended to
    * interval×interval): time is cut into `widthSeconds` bands and each
    * interval is exploded onto every band it covers, so candidates meet
    * on (key, band) — never a nested-loop inequality join. An
    * overlapping pair co-occupies every band its overlap touches; the
    * pair is emitted only from the band containing `max(start_a,
    * start_b)` (the overlap's first instant), which both intervals cover
    * by definition — exactly-once without a distinct pass.
    *
    * Scale: cost per interval is its band count (duration/width + 1);
    * size `widthSeconds` near the typical interval length so that stays
    * O(1). Shuffle keys are (key, band) — a hot key dilutes across its
    * time range, the same skew shear as [[bandedRangeJoin]]. Open-ended
    * (null start/end) intervals are rejected: they would cover unbounded
    * bands. */
  def intervalOverlapJoin(df: DataFrame, key: String, idCol: String,
                          startCol: String, endCol: String,
                          widthSeconds: Long): DataFrame = {
    require(widthSeconds > 0, s"widthSeconds must be positive: $widthSeconds")
    require(!Seq("_s", "_e", "_band", "_b0", "_b1", "id_a", "id_b",
      "overlap_us").exists(n => n == key || n == idCol),
      "key/id columns must not use the operator's reserved/output names")
    val us = widthSeconds * 1000000L
    // NTZ columns (parquet isAdjustedToUTC=false) are accepted via a
    // session-tz reinterpretation cast — a no-op for TIMESTAMP inputs
    def micros(c: Column): Column = unix_micros(c.cast("timestamp"))
    def bandOf(c: Column): Column = {
      val v = micros(c)
      ((v - pmod(v, lit(us))) / lit(us)).cast("long")
    }
    val iv = df.select(col(key), col(idCol),
        micros(col(startCol)).as("_s"), micros(col(endCol)).as("_e"),
        bandOf(col(startCol)).as("_b0"), bandOf(col(endCol)).as("_b1"))
    val exploded = iv
      .withColumn("_band", explode(sequence(col("_b0"), col("_b1"))))
      .select(col(key), col(idCol), col("_s"), col("_e"), col("_band"))
    val a = exploded.select(col(key), col(idCol).as("id_a"),
      col("_s").as("s_a"), col("_e").as("e_a"), col("_band"))
    val b = exploded.select(col(key), col(idCol).as("id_b"),
      col("_s").as("s_b"), col("_e").as("e_b"), col("_band"))
    a.join(b, Seq(key, "_band"))
      .filter(col("id_a") < col("id_b"))
      .filter(greatest(col("s_a"), col("s_b")) <=
        least(col("e_a"), col("e_b")))
      // emit from the single band holding the overlap's first instant
      .filter(col("_band") ===
        ((greatest(col("s_a"), col("s_b")) -
          pmod(greatest(col("s_a"), col("s_b")), lit(us))) / lit(us))
          .cast("long"))
      .select(col(key), col("id_a"), col("id_b"),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b"))).as("overlap_us"))
  }

  /** Retention cohort matrix — the product-analytics staple: users
    * cohorted by their FIRST active day, then for each (cohort,
    * day-offset) cell the distinct users active that many days after
    * their cohort day, with the retention rate against the cohort's
    * size. Day 0 is the cohort day itself (retention 1 by
    * construction — kept as the self-check row). Returns
    * (cohort, day_offset, n_active, retention), rate rounded to 6 dp.
    *
    * Scale: per-user first-day and the distinct (user, day) activity
    * frame are map-side-combined hash aggs keyed by user; they meet in
    * ONE user-keyed equi-join (same-key shuffles, AQE-coalesced), the
    * matrix is a second hash agg over ≤ cohorts×span cells, and cohort
    * sizes broadcast back onto it. No window anywhere. */
  def retentionCohorts(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val active = df
      .select(col(userCol).as("_u"), to_date(col(tsCol)).as("_day"))
      .filter(col("_u").isNotNull && col("_day").isNotNull)
      .distinct()
    val cohorts = active.groupBy(col("_u")).agg(min(col("_day")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("_cohort_n"))
    active.join(cohorts, "_u")
      .groupBy(col("cohort"),
        datediff(col("_day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("day_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("_cohort_n"), 6)
          .as("retention"))
      .orderBy("cohort", "day_offset")
  }

  /** Inter-arrival-time histogram: per `groupCol`, the distribution of
    * gaps between a key's consecutive events, bucketed by power-of-two
    * seconds (bucket b covers [2^b, 2^(b+1)) seconds; bucket −1 is a
    * sub-second gap, including exact ties). The latency/cadence
    * profile behind session-gap and watermark tuning — pick a session
    * gap where this histogram has its valley, a watermark where its
    * tail ends. Returns (groupCol, bucket, n, share) with share
    * rounded to 6 dp.
    *
    * Scale: one per-key lag window (key-partitioned — the
    * [[transitionCounts]] shape, no global sort), then a hash agg over
    * ≤ |groups|·64 cells; group totals ride a broadcast join back.
    * The log₂ bucket comes from integer bit-length (63 − leading
    * zeros of the microsecond gap ÷ 1e6 in integer arithmetic is
    * engine-portable; a double log2 at bucket boundaries is not). */
  def interArrivalHistogram(df: DataFrame, key: String, tsCol: String,
                            groupCol: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(col(tsCol).asc, col(tiebreak).asc)
    val gaps = df
      .select(col(key), col(groupCol), col(tsCol), col(tiebreak))
      .withColumn("_prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("_prev").isNotNull)
      .withColumn("_gap_us", unix_micros(col(tsCol)) - col("_prev"))
      // integer `div`, not `/`: the double quotient truncated back to
      // BIGINT can mis-bucket exact power-of-two boundaries
      .withColumn("_gap_s", expr("_gap_us div 1000000"))
      // integer floor-log2 bucket; −1 for sub-second gaps (incl. ties)
      .withColumn("bucket",
        when(col("_gap_s") < 1, lit(-1)).otherwise(floorLog2(col("_gap_s"))))
    val cells = gaps.groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col(groupCol)).agg(sum("n").as("_t"))
    cells.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col("bucket"), col("n"),
        round(col("n").cast("double") / col("_t"), 6).as("share"))
      .orderBy(groupCol, "bucket")
  }

  /** floor(log2(x)) for x ≥ 1 via an integer comparison ladder (the
    * largest b with x ≥ 2^b) — a codegen'd nested conditional with no
    * doubles, so bucket boundaries are engine-portable where a double
    * log2 at exact powers of two is not. */
  private def floorLog2(x: Column): Column =
    (1 to 62).foldLeft(lit(0)) { (e, b) =>
      when(x >= lit(1L << b), b).otherwise(e)
    }

  /** First-order transition counts (the Markov-chain edge list behind
    * funnel and path analysis): per `key`, order events by (tsCol,
    * tiebreak) and count each observed consecutive (src → dst) state
    * pair across the whole frame. A key's first event has no
    * predecessor and contributes nothing; null states are legal
    * transition endpoints (counted like any value). Returns
    * (src, dst, n).
    *
    * Scale: the only window is the per-key lag (partitioned by the
    * key — no global sort), and the transition aggregate is a hash agg
    * over ≤ |states|² keys with map-side partial combine. Skewed keys
    * cost one task their event count — the same exposure (and the same
    * salting escape) as [[asOf]] vs [[asOfSalted]]. */
  /** Time-bucket downsampling to OHLC bars (open/high/low/close — the
    * classic series-compaction shape, equally the right reduction for
    * any metric stream): per (`key`, `unit`-truncated `tsCol`), the
    * first and last `valueCol` under (ts, tiebreak) order plus
    * min/max/count/mean. Null values are excluded; mean rounds to
    * 6 dp.
    *
    * First/last are min_by/max_by AGGREGATES (map-side combined, no
    * window, no re-shuffle beyond the group-key exchange): the order
    * key packs (unix_micros(ts), tiebreak) into a zero-padded string
    * so a plain scalar comparison totally orders rows — the oracle's
    * arg_min/arg_max only accept scalar order keys, and a 40-char
    * transient string per row beats a per-group sort. Requires a
    * non-negative numeric `tiebreak`, unique within (key, bucket) for
    * a deterministic answer. */
  /** Gap-filling forward-fill resample (LOCF) — the regular-grid
    * completion [[resampleOhlc]] deliberately skips: per key, a
    * `stepSeconds` bucket grid spans the key's own [min, max]
    * timestamp range, buckets WITH observations take the
    * last-in-bucket value (ties by `tiebreak` — the resampleOhlc
    * close convention), and empty buckets carry the previous bucket's
    * value forward. The step every feature pipeline needs between
    * irregular events and a fixed-step model input; leading gaps
    * cannot exist (the grid starts at the key's first observation).
    *
    * Shape at 100 TB: one per-(key, bucket) max_by aggregate, one
    * bounded per-key grid explode (⌈range/step⌉ + 1 rows — guard your
    * step against the key's time span, not here), and one per-key
    * last(ignoreNulls) window ordered by bucket — key-partitioned,
    * no global sort. Returns (key, bucket_start — epoch seconds
    * aligned to the key's first observation, value, filled — true
    * when carried forward), ordered by (key, bucket_start). */
  def resampleFfill(df: DataFrame, key: String, tsCol: String,
                    valueCol: String, tiebreak: String,
                    stepSeconds: Long): DataFrame = {
    require(stepSeconds >= 1, s"stepSeconds must be >= 1: $stepSeconds")
    val ord = format_string("%020d|%020d",
      unix_micros(col(tsCol)), col(tiebreak))
    val obs = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(key), expr(s"unix_micros(`$tsCol`) div 1000000")
        .as("_s"), col(valueCol), ord.as("_ord"))
    val spans = obs.groupBy(col(key))
      .agg(min("_s").as("_t0"), max("_s").as("_t1"))
    // per-key grid: bucket index 0..⌈(t1−t0)/step⌉
    val grid = spans.select(col(key), col("_t0"),
      explode(expr(
        s"sequence(0L, (_t1 - _t0) div ${stepSeconds}L)")).as("_i"))
      .select(col(key), col("_t0"),
        (col("_t0") + col("_i") * stepSeconds).as("bucket_start"))
    val inBucket = obs
      .join(spans.select(col(key), col("_t0")), Seq(key))
      .withColumn("bucket_start",
        col("_t0") + expr(s"(_s - _t0) div ${stepSeconds}L")
          * stepSeconds)
      .groupBy(col(key), col("bucket_start"))
      .agg(max_by(col(valueCol), col("_ord")).as("_obs"))
    val w = Window.partitionBy(key).orderBy("bucket_start")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(inBucket, Seq(key, "bucket_start"), "left")
      .withColumn("value", last(col("_obs"), ignoreNulls = true).over(w))
      .select(col(key), col("bucket_start"), col("value"),
        col("_obs").isNull.as("filled"))
      .orderBy(key, "bucket_start")
  }

  /** Event debounce — telemetry/duplicate-delivery hygiene: drop an
    * event when the SAME key emitted the SAME payload within
    * `withinSeconds` of the previous KEPT occurrence... is
    * order-dependent; the dataflow form used here is the standard
    * relaxation: drop an event whose previous same-(key, payload)
    * event (by time, ties by `tiebreak`) is within `withinSeconds` —
    * one lag window per (key, payload digest), no sequential state.
    * A 3-burst within the window keeps only its first element iff
    * gaps are ≥ the window apart pairwise; chained sub-window gaps
    * each drop (the relaxation documented above — at-least-once
    * delivery dedup wants exactly this).
    *
    * Shape: one (key, md5(payload))-partitioned lag window — the
    * interArrivalHistogram shape. Returns the kept rows (original
    * columns), ordered by (key, tsCol, tiebreak). */
  def debounce(df: DataFrame, key: String, tsCol: String,
               payloadCols: Seq[String], tiebreak: String,
               withinSeconds: Long): DataFrame = {
    require(withinSeconds >= 1, s"withinSeconds must be >= 1: $withinSeconds")
    require(payloadCols.nonEmpty, "debounce needs payload columns")
    // \u0001-separated render with a \u0002 null sentinel: no payload
    // tuple can collide across column boundaries and null != ""
    val digest = md5(concat_ws("\u0001",
      payloadCols.map(c => coalesce(col(c).cast("string"),
        lit("\u0002"))): _*))
    val w = Window.partitionBy(col(key), digest)
      .orderBy(col(tsCol).asc, col(tiebreak).asc)
    df.filter(col(key).isNotNull && col(tsCol).isNotNull)
      .withColumn("_prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("_prev").isNull ||
        unix_micros(col(tsCol)) - col("_prev") > withinSeconds * 1000000L)
      .drop("_prev")
      .orderBy(col(key), col(tsCol), col(tiebreak))
  }

  /** Interval union per key — merge overlapping-or-touching half-open
    * [start, end) spans into maximal disjoint intervals: the
    * span-consumer the redaction/dedup span producers (PII spans, C4
    * sentence spans, winnow matches) all need before acting — acting
    * on raw spans double-deletes overlaps and miscounts coverage.
    * Classic sweep as a dataflow: per key, a span starts a NEW merged
    * group iff its start exceeds the running max of all previous
    * ends; group ids are the running count of group-starts. Both are
    * windows PARTITIONED BY KEY (never global), ordered (start ASC,
    * end ASC) — deterministic for any input order. Invalid spans
    * (null bounds, end ≤ start) drop.
    *
    * Returns one row per merged interval: (keyCol, merged_start,
    * merged_end, merged_len, n_spans), ordered by (key, start). */
  def intervalUnion(df: DataFrame, keyCol: String, startCol: String,
                    endCol: String): DataFrame = {
    val clean = df
      .select(col(keyCol).as("_k"), col(startCol).cast("long").as("_s"),
        col(endCol).cast("long").as("_e"))
      .filter(col("_k").isNotNull && col("_s").isNotNull &&
        col("_e").isNotNull && col("_e") > col("_s"))
    val w = Window.partitionBy("_k").orderBy(col("_s"), col("_e"))
    val flagged = clean
      .withColumn("_pmax", max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_pmax").isNull || col("_s") > col("_pmax"), 1L)
          .otherwise(0L))
      .withColumn("_grp", sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("_k"), col("_grp"))
      .agg(min("_s").as("merged_start"), max("_e").as("merged_end"),
        count(lit(1)).as("n_spans"))
      .select(col("_k").as(keyCol), col("merged_start"),
        col("merged_end"),
        (col("merged_end") - col("merged_start")).as("merged_len"),
        col("n_spans"))
      .orderBy(keyCol, "merged_start")
  }

  /** Time-weighted average value (TWAP) per (key, bucket) — what
    * [[resampleOhlc]]'s arithmetic mean gets WRONG for irregular
    * observations: a value that held for 59 minutes should not weigh
    * the same as one that held for one second. Each observation's
    * value holds from its timestamp until the NEXT observation in the
    * bucket; the last holds to the bucket's end; the window starts at
    * the bucket's FIRST observation (no carry-in across buckets — the
    * self-contained convention, documented so both engines agree).
    *
    *   twap·10⁶ = Σ vᵢ·Δtᵢ·10⁶ div Σ Δtᵢ    (Δt in epoch micros)
    *
    * Values must be integer-valued (micro/milli-scale floats first);
    * products ride DECIMAL(38,0). Duplicate timestamps order by
    * `tiebreak` and the earlier duplicate holds for zero micros —
    * deterministic, never double-counted. The lead window partitions
    * by (key, bucket) — never global.
    *
    * Returns one row per (key, bucket): (key, bucket, n_obs,
    * span_micros — observed coverage Σ Δt, twap_value_micro), ordered
    * by (key, bucket). */
  def twap(df: DataFrame, key: String, tsCol: String,
           valueCol: String, tiebreak: String,
           unit: String = "hour"): DataFrame = {
    val units = Set("minute", "hour", "day")
    require(units.contains(unit),
      s"unit must be one of ${units.mkString(", ")}: $unit")
    val clean = df
      .filter(col(key).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(key), col(tsCol), col(tiebreak),
        col(valueCol).cast("long").as("_v"))
      .withColumn("_b", date_trunc(unit, col(tsCol)))
      .withColumn("_t", unix_micros(col(tsCol)))
      .withColumn("_end",
        unix_micros(expr(s"timestampadd($unit, 1, _b)")))
    val w = Window.partitionBy(col(key), col("_b"))
      .orderBy(col(tsCol).asc, col(tiebreak).asc)
    clean
      .withColumn("_dt",
        coalesce(lead("_t", 1).over(w), col("_end")) - col("_t"))
      .groupBy(col(key), col("_b").as("bucket"))
      .agg(count(lit(1)).as("n_obs"),
        coalesce(sum("_dt"), lit(0L)).as("span_micros"),
        coalesce(sum(col("_v").cast("decimal(38,0)") * col("_dt")),
          lit(0).cast("decimal(38,0)")).as("_wv"))
      .select(col(key), col("bucket"), col("n_obs"), col("span_micros"),
        when(col("span_micros") === 0L, lit(null).cast("long"))
          .otherwise(expr("""CAST(_wv * 1000000
            div CAST(span_micros AS DECIMAL(38,0)) AS BIGINT)"""))
          .as("twap_value_micro"))
      .orderBy(key, "bucket")
  }

  def resampleOhlc(df: DataFrame, key: String, tsCol: String,
                   valueCol: String, tiebreak: String,
                   unit: String = "hour"): DataFrame = {
    val ord = format_string("%020d|%020d",
      unix_micros(col(tsCol)), col(tiebreak))
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(key), date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n"),
        round(avg(col(valueCol)), 6).as("mean_value"))
      .orderBy(key, "bucket")
  }

  def transitionCounts(df: DataFrame, key: String, tsCol: String,
                       stateCol: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(col(tsCol).asc, col(tiebreak).asc)
    df.select(col(key), col(tsCol), col(tiebreak),
        col(stateCol).as("dst"))
      .withColumn("src", lag(col("dst"), 1).over(w))
      .withColumn("_first", row_number().over(w) === 1)
      .filter(!col("_first"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point-in-time (PIT) join — each fact row picks the dimension
    * VERSION that was valid at the fact's own timestamp: the
    * feature-store primitive that prevents label leakage (joining a
    * training label to an attribute computed later leaks the future
    * into the features; every serious feature platform names this
    * exact join). Versions are SCD2-style (key, valid_from, valid_to —
    * null valid_to = still current, the [[scd2Collapse]] output
    * shape).
    *
    * Implementation: an AS-OF join on `valid_from` (the version with
    * the greatest start ≤ fact ts — [[asOf]]'s union+window machinery,
    * one shuffle/sort, no inequality join), then an expiry guard:
    * a matched version whose `valid_to` ≤ fact ts has lapsed (a GAP in
    * the dimension history), so its attributes null out rather than
    * leak a stale version forward. For gapless SCD2 histories the
    * guard never fires and PIT ≡ as-of on starts. Facts before a key's
    * first version keep null attributes. Returns the fact rows plus
    * `prefix`-named version attributes. */
  def pointInTimeJoin(facts: DataFrame, versions: DataFrame,
                      key: String, factTsCol: String,
                      validFromCol: String, validToCol: String,
                      attrCols: Seq[String],
                      prefix: String = "v_"): DataFrame = {
    require(attrCols.nonEmpty, "pointInTimeJoin needs attribute columns")
    val vs = versions.select(
      Seq(col(key), col(validFromCol).as(factTsCol),
        col(validToCol).as("_vto")) ++ attrCols.map(col): _*)
    val joined = asOf(facts, vs, key, factTsCol,
      attrCols :+ "_vto", tiebreak = factTsCol, prefix)
    val expired = col(s"${prefix}_vto").isNotNull &&
      col(factTsCol) >= col(s"${prefix}_vto")
    attrCols.foldLeft(joined) { (df, c) =>
      df.withColumn(prefix + c,
        when(expired, lit(null)).otherwise(col(prefix + c)))
    }.drop(s"${prefix}_vto")
  }

  /** Batch multi-touch LINEAR attribution, gate-exact (q171): every
    * conversion splits 10⁶ micro-credits equally (floor division)
    * across the user's touch events inside the trailing window
    * (t_conv − W, t_conv], and the per-channel totals answer
    * "which touch type drives conversions" without last-click's
    * winner-take-all bias. Conversions with no in-window touch report
    * under the `__unattributed__` channel at full 10⁶ each — mass that
    * silently vanishing would overstate every channel's share.
    *
    * Scale shape: the conversion×touch pairing is the banded equi-join
    * (touches explode onto 2 time bands — the [[bandedRangeJoin]]
    * scheme, each pair produced exactly once; the band key shears
    * skew), followed by two hash aggregates: per-conversion channel
    * counts (share = 10⁶ div n computed INSIDE the same row — no
    * join-back), then the channel totals. Unattributed conversions
    * are counted as total − attributed (two scalar counts), never via
    * an anti-join that would re-evaluate the pair join. No window
    * over raw rows, nothing quadratic.
    *
    * Returns one row per touch type (+ `__unattributed__`):
    * (channel, n_touches, credit_micro), ordered by channel. Rows with
    * a null user/timestamp are excluded (they can neither convert nor
    * be credited deterministically). */
  def linearAttribution(events: DataFrame, userCol: String,
                        tsCol: String, typeCol: String, idCol: String,
                        touchTypes: Seq[String], conversionType: String,
                        windowSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "linearAttribution needs touch types")
    require(!touchTypes.contains(conversionType),
      s"conversion type $conversionType cannot also be a touch type")
    require(windowSeconds > 0, "window must be positive")
    val us = windowSeconds * 1000000L
    val base = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_u"), col(typeCol).as("_t"),
        col(idCol).as("_id"), unix_micros(col(tsCol)).as("_us"))
      .withColumn("_band", expr(s"(_us - pmod(_us, ${us}L)) div ${us}L"))
    val conv = base.filter(col("_t") === conversionType)
      .select(col("_u"), col("_id").as("_cid"), col("_us").as("_cus"),
        col("_band"))
    val touch = base.filter(col("_t").isin(touchTypes: _*))
      .select(col("_u"), col("_t"), col("_us").as("_tus"),
        explode(array(col("_band"), col("_band") + 1)).as("_band"))
    val perConv = conv.join(touch, Seq("_u", "_band"))
      .filter(col("_tus") <= col("_cus") &&
        col("_cus") - col("_tus") < us)
      .groupBy("_cid")
      .agg(count(lit(1)).as("_n"),
        touchTypes.map(tt =>
          sum(when(col("_t") === tt, 1L).otherwise(0L)).as(s"_n_$tt")): _*)
    // ONE aggregate over the per-conversion frame yields every
    // channel's totals AND the attributed-conversion count; the 1-row
    // explode melts it (the q169 shape). Unattributed conversions are
    // total − attributed (a cheap id-count on the conversion slice) —
    // an anti-join here would re-evaluate the whole pair join for a
    // scalar.
    val aggs = count(lit(1)).as("_attr") +: touchTypes.flatMap(tt => Seq(
      coalesce(sum(col(s"_n_$tt")), lit(0L)).as(s"_nt_$tt"),
      coalesce(sum(expr(s"`_n_$tt` * (1000000L div _n)")), lit(0L))
        .as(s"_cr_$tt")))
    val tot = perConv.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(conv.agg(count(lit(1)).as("_ctot"))))
    tot.select(explode(array(touchTypes.map(tt =>
        struct(lit(tt).as("channel"), col(s"_nt_$tt").as("n_touches"),
          col(s"_cr_$tt").as("credit_micro"))) :+
        struct(lit("__unattributed__").as("channel"),
          (col("_ctot") - col("_attr")).as("n_touches"),
          ((col("_ctot") - col("_attr")) * 1000000L)
            .as("credit_micro")): _*)).as("_c"))
      .select(col("_c.*"))
      .orderBy("channel")
  }

  /** Seasonal profile — the (day-of-week, hour-of-day) fingerprint of
    * an event stream per key, with each cell's deviation from the
    * key's mean cell load in exact micros: the baseline a rate-anomaly
    * monitor (q99's family) compares against, and the first chart an
    * on-call engineer draws. A cell covering `share_micro` of the
    * key's events deviates by
    *
    *   deviation_micro = (n_cell·C − N)·10⁶ div N
    *
    * (C = populated cells for the key, N = key total — i.e. the
    * cell's load relative to a uniform spread across the POPULATED
    * cells; +10⁶ = double the uniform load). `is_peak` flags cells at
    * or above `peakMicro` deviation. Exact integers; truncating div
    * on a possibly-negative numerator (the [[Stats.spearmanRho]]
    * convention).
    *
    * Shape: one hash aggregate (key, dow, hour) + one per-key
    * aggregate joined back broadcast — two scans of nothing but group
    * keys; no windows. dow follows ISO (1 = Monday … 7 = Sunday) via
    * `dayofweek` re-mapped, matching DuckDB's `isodow`. Returns
    * (key, dow, hour, n_events, share_micro, deviation_micro,
    * is_peak) ordered by (key, dow, hour). */
  def seasonalProfile(df: DataFrame, keyCol: String, tsCol: String,
                      peakMicro: Long = 500000L): DataFrame = {
    val cells = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"),
        // Spark dayofweek: 1 = Sunday … 7 = Saturday → ISO 1 = Mon … 7 = Sun
        ((dayofweek(col(tsCol)) + 5) % 7 + 1).as("dow"),
        hour(col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val totals = cells.groupBy("key")
      .agg(sum("n_events").as("_tot"), count(lit(1)).as("_cells"))
    cells.join(broadcast(totals), Seq("key"))
      .withColumn("share_micro",
        expr("CAST(n_events * 1000000 div _tot AS BIGINT)"))
      .withColumn("deviation_micro",
        expr("""CAST((n_events * _cells - _tot) * 1000000 div _tot
          AS BIGINT)"""))
      .withColumn("is_peak", col("deviation_micro") >= peakMicro)
      .select("key", "dow", "hour", "n_events", "share_micro",
        "deviation_micro", "is_peak")
      .orderBy("key", "dow", "hour")
  }
}
