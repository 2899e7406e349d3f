package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches — the incremental-profiling
  * primitive a 100 TB pipeline runs instead of count(distinct): build a
  * fixed-size register table per partition/day/source ONCE, persist it,
  * and answer "distinct over any union of slices" by max-merging
  * registers — no rescan of the data, ever.
  *
  * This is a from-scratch HyperLogLog (Flajolet et al. 2007) built
  * ENTIRELY from engine-portable arithmetic, unlike opaque binary
  * sketch blobs (Spark's approx_count_distinct / DataSketches), whose
  * estimates can't be replayed by another engine:
  *   - hash: 48-bit md5 prefix (the house digest — identical in any
  *     engine with md5);
  *   - bucket: low 8 bits (m = 256); rank: leading-zero count of the
  *     remaining 40-bit field via an integer comparison ladder (the
  *     q109 principle — no floating log2 at power-of-two boundaries);
  *   - register merge: MAX — associative, commutative, idempotent,
  *     which is what makes the sketch mergeable and re-aggregable at
  *     any granularity;
  *   - estimator: Σ 2^(−reg) summed as EXACT dyadic doubles (every
  *     term is a multiple of 2⁻⁴¹ and the total stays under 2⁹, so all
  *     partial sums are exactly representable — the sum is
  *     aggregation-ORDER-FREE, a property float sums normally lack).
  *
  * Standard small-range (linear-counting) correction applies below
  * 2.5·m; the 2⁴⁸ hash space makes the large-range correction
  * unreachable at any realistic cardinality (documented, not coded).
  *
  * Scale design (100 TB): one narrow map pass → groupBy((group),
  * bucket) max-aggregate: the shuffle carries ≤ m rows per group
  * (partial max map-side), estimates are per-group 1-row aggregates.
  * The merged ("__all__") estimate re-aggregates the per-group
  * REGISTERS, not the data — the whole point of the sketch.
  */
object Sketch {

  val m: Int = 256
  private val alpha: Double = 0.7213 / (1.0 + 1.079 / m)

  /** Exposed for oracle construction: the exact alpha double. */
  def alphaLiteral: String = alpha.toString

  /** 48-bit md5 digest of the value's string form. */
  private def h48(v: Column): Column =
    // native hex-slice kernel (spec-pinned ≡ the conv/substring twin,
    // the q279 precedent): value-identical, but codegen'd — conv's
    // NumberConverter call was the dominant per-row cost of every
    // HLL register build (measured on q286's 6M-row melt)
    graft.functions.VectorExpressions.md5SliceToLong(
      v.cast("string"), 1, 12)

  /** floor(log2(x)) for x ≥ 1 via comparison ladder (40-bit domain). */
  private def floorLog2(x: Column): Column =
    (1 to 39).map(i => when(x >= lit(1L << i), 1).otherwise(0))
      .reduce(_ + _)

  /** Per-group HLL registers: (groupCols..., bucket, reg). Rows with a
    * NULL value are skipped (count-distinct semantics). Re-aggregating
    * this frame with max(reg) at ANY coarser grouping yields the
    * registers of the merged sketch. */
  def hllRegisters(df: DataFrame, valueCol: String,
                   groupCols: Seq[String]): DataFrame =
    registerAgg(df, valueCol, groupCols)

  /** [[hllRegisters]] plus a per-(group, bucket) cell count `_cells` —
    * one aggregate carries the registers AND the non-null row count
    * (Σ `_cells` over a group's buckets), so a caller that needs both
    * pays one corpus pass instead of two (the q286 count-fold).
    * Register columns are identical to [[hllRegisters]]'; select them
    * out before [[hllEstimate]]. */
  private[graft] def hllRegistersCounted(df: DataFrame, valueCol: String,
                                         groupCols: Seq[String]): DataFrame =
    registerAgg(df, valueCol, groupCols, count(lit(1)).as("_cells"))

  /** The one copy of the hash/bucket/rho pipeline behind both register
    * builders: max(rho) per (group, bucket), plus any `extra`
    * aggregates in the same pass. */
  private def registerAgg(df: DataFrame, valueCol: String,
                          groupCols: Seq[String], extra: Column*): DataFrame = {
    val h = h48(col(valueCol))
    val rem = shiftright(h, 8) // upper 40 bits (h >= 0)
    val rho = when(rem === 0L, lit(41))
      .otherwise(lit(40) - floorLog2(rem))
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ (h % m).cast("int").as("bucket")
        :+ rho.as("reg"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max("reg").as("reg"), extra: _*)
  }

  /** Estimate from a register frame grouped by `groupCols`: one row per
    * group with `hll_estimate` (rounded to 6). Empty buckets contribute
    * 2⁰ = 1 to the harmonic sum. */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) regs.agg(
        sum(lit(1.0) / expr("shiftleft(1L, reg)")).as("_s"),
        count(lit(1)).as("_nz"))
      else regs.groupBy(groupCols.map(col): _*).agg(
        sum(lit(1.0) / expr("shiftleft(1L, reg)")).as("_s"),
        count(lit(1)).as("_nz"))
    val mD = lit(m.toDouble)
    val sTotal = col("_s") + (mD - col("_nz"))
    val raw = lit(alpha) * mD * mD / sTotal
    val empty = mD - col("_nz")
    val est = when(raw <= lit(2.5 * m) && empty > 0,
      mD * log(mD / empty)).otherwise(raw)
    grouped.select(groupCols.map(col) :+
      round(est, 6).as("hll_estimate"): _*)
  }

  /** The gate-shaped profile: per-group exact distinct vs sketch
    * estimate, PLUS a merged "__all__" row whose estimate comes from
    * max-merging the per-group registers (never rescanning the data;
    * its exact count is a second aggregate here only for the
    * comparison). Output: (scope, n_exact, hll_estimate, rel_err). */
  def hllProfile(df: DataFrame, valueCol: String,
                 groupCol: String): DataFrame = {
    val regs = hllRegisters(df, valueCol, Seq(groupCol))
    val perGroup = hllEstimate(regs, Seq(groupCol))
      .withColumnRenamed(groupCol, "scope")
    val merged = hllEstimate(
      regs.groupBy("bucket").agg(max("reg").as("reg")), Seq.empty)
      .select(lit("__all__").as("scope"), col("hll_estimate"))
    val exactPer = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("scope"))
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    val exactAll = df.filter(col(valueCol).isNotNull)
      .agg(countDistinct(col(valueCol)).as("n_exact"))
      .select(lit("__all__").as("scope"), col("n_exact"))
    perGroup.unionByName(merged)
      .join(exactPer.unionByName(exactAll), Seq("scope"))
      .select(col("scope"), col("n_exact"), col("hll_estimate"),
        round(abs(col("hll_estimate") - col("n_exact")) /
          col("n_exact"), 6).as("rel_err"))
      .orderBy("scope")
  }

  // --------------------------------------------------------------------
  // Portable deterministic Bloom filter — the membership twin of the
  // HLL above. A 100 TB decontamination pass cannot afford a semi-join
  // of every corpus n-gram against the reference set on every run; the
  // production shape is: build an m-bit filter over the reference ONCE
  // (driver-sized — m bits, not |reference| entries), broadcast it as a
  // LITERAL, and probe each corpus n-gram with a pure expression — no
  // join, no shuffle, no state. False positives are the price; like the
  // LSH recall audit (q126), the gate MEASURES them against exact
  // membership instead of assuming them away.
  //
  // Engine-portable arithmetic throughout: hash_i(x) = 48-bit md5
  // prefix of "i:x" mod m — replayable in any engine with md5
  // (the DuckDB oracle recomputes every bit position).
  // --------------------------------------------------------------------

  /** Position of value `v` under hash seed `i`, in [0, m). */
  def bloomPos(v: Column, i: Int, m: Int): Column =
    graft.functions.VectorExpressions
      .md5SliceToLong(concat(lit(s"$i:"), v), 1, 12) % m

  /** Build the filter over the DISTINCT values of `valueCol`: the k·n
    * positions are set in an m-bit set collected as (m/64) longs.
    * The collect is bounded by m distinct positions (m ≤ 2²² guard —
    * 512 KB of bitset at the cap), never by the reference size. */
  def bloomBuild(ref: DataFrame, valueCol: String, m: Int,
                 k: Int): Array[Long] = {
    require(m > 0 && (m & (m - 1)) == 0 && m <= (1 << 22),
      s"m must be a power of two <= 2^22: $m")
    require(k >= 1 && k <= 8, s"k must be in [1,8]: $k")
    val posRows = ref
      .select(explode(array((0 until k).map(i =>
        bloomPos(col(valueCol), i, m)): _*)).as("p"))
      .distinct()
      .collect() // ≤ m ints by construction
    val bits = new Array[Long](m / 64)
    posRows.foreach { r =>
      val p = r.getLong(0).toInt
      bits(p >> 6) |= (1L << (p & 63))
    }
    bits
  }

  /** Membership probe as a pure expression: AND of the k bit tests
    * against the literal bitset. True ⇒ possibly present (FP rate set
    * by m/n and k); false ⇒ definitely absent. */
  def bloomProbe(bits: Array[Long], m: Int, k: Int)(v: Column): Column =
    (0 until k).map { i =>
      val p = bloomPos(v, i, m)
      // shiftleft with a COLUMN amount needs the SQL function form
      // (the Scala helper only accepts a literal shift)
      (element_at(typedLit(bits.toSeq), (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          (p % 64).cast("int")))) =!= 0L
    }.reduce(_ && _)

  // --------------------------------------------------------------------
  // Portable deterministic count-min sketch — the FREQUENCY member of
  // the sketch family (HLL: distinct counts; Bloom: membership; CMS:
  // per-item counts). A k × w counter grid, mergeable by plain SUM —
  // per-day/per-source sketches re-aggregate at any granularity
  // without rescanning, the same contract as the HLL registers. The
  // estimate min_i(grid[i][h_i(x)]) NEVER undercounts (every cell a
  // token hashes to holds at least its true count); the overcount is
  // the collision price, and the gate MEASURES it against exact counts
  // instead of assuming the ε·N bound. Shares [[bloomPos]]'s 48-bit
  // md5 hash family, so the oracle replays every cell.
  // --------------------------------------------------------------------

  /** Build the sketch frame (i, pos, cnt), ≤ k·w rows — one narrow
    * explode + hash aggregate; null values skipped. Merge sketches of
    * disjoint slices by summing cnt at the same (i, pos). */
  def cmsSketch(df: DataFrame, valueCol: String, k: Int,
                w: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in [1,8]: $k")
    require(w > 0, s"w must be positive: $w")
    df.filter(col(valueCol).isNotNull)
      .select(explode(array((0 until k).map(i =>
        struct(lit(i).as("i"),
          bloomPos(col(valueCol), i, w).as("pos"))): _*)).as("c"))
      .groupBy(col("c.i").as("i"), col("c.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Estimated count per item: min over the k probed cells (0 for an
    * item hashing only to empty cells). The sketch side is ≤ k·w rows
    * and broadcasts; the item side never shuffles for the probe. */
  def cmsEstimate(sketch: DataFrame, items: DataFrame, itemCol: String,
                  k: Int, w: Int): DataFrame =
    items
      .select(col(itemCol), explode(array((0 until k).map(i =>
        struct(lit(i).as("i"),
          bloomPos(col(itemCol), i, w).as("pos"))): _*)).as("c"))
      .select(col(itemCol), col("c.i").as("i"), col("c.pos").as("pos"))
      .join(broadcast(sketch), Seq("i", "pos"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))

  // --------------------------------------------------------------------
  // Mergeable log₂ histogram — the QUANTILE member of the sketch
  // family, for non-negative integer domains (lengths, counts, byte
  // sizes, latencies — the pipeline's distributions). Buckets are
  // floor(log2(v)) via an integer comparison ladder (the q109
  // principle: no floating log2 at power-of-two boundaries; bucket −1
  // holds zeros), counts merge by plain SUM at any granularity, and a
  // quantile query answers with a PROVEN BRACKET [2^b, 2^(b+1)−1]
  // rather than a point estimate — the gate joins the exact quantile
  // and shows containment, measured not assumed.
  // --------------------------------------------------------------------

  /** floor(log2(x)) for x ≥ 1 over the full 62-bit domain. */
  private def floorLog2Wide(x: Column): Column =
    (1 to 62).map(i => when(x >= lit(1L << i), 1).otherwise(0))
      .reduce(_ + _)

  /** The histogram frame (bucket, cnt), sum-mergeable. Nulls skipped;
    * negative values rejected loudly (the domain is sizes/counts). */
  def logHistogram(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    df.filter(col(valueCol).isNotNull)
      .select(when(v < 0, lit(null).cast("int"))
        .when(v === 0, lit(-1))
        .otherwise(floorLog2Wide(v)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile brackets from the histogram: for each q, the bucket
    * holding the rank-⌈q·n⌉ element (the [[Scale.exactQuantiles]] rank
    * definition) and its [lo, hi] value bracket. The histogram is a
    * ≤64-row stats frame — collected under a guard, walked on the
    * driver (the Drift stats-frame contract; the DATA never moves). */
  def logHistogramQuantiles(df: DataFrame, valueCol: String,
                            qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1]: $qs")
    val rows = logHistogram(df, valueCol).limit(66).collect()
    require(rows.length <= 65, "log histogram cannot exceed 65 buckets")
    require(rows.forall(!_.isNullAt(0)),
      s"$valueCol contains negative values — log buckets need a " +
        "non-negative domain")
    val hist = rows.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    require(hist.nonEmpty, "logHistogramQuantiles needs at least one " +
      s"non-null $valueCol value")
    val n = hist.map(_._2).sum
    val out = qs.sorted.map { q =>
      val rank = math.max(1L, math.ceil(q * n).toLong)
      var cum = 0L
      val b = hist.find { case (_, c) => cum += c; cum >= rank }
        .map(_._1).getOrElse(hist.last._1)
      val lo = if (b < 0) 0L else 1L << b
      val hi = if (b < 0) 0L else (1L << (b + 1)) - 1
      (q, b, lo, hi)
    }
    df.sparkSession.createDataFrame(out)
      .toDF("q", "bucket", "lo", "hi")
  }

  /** Gate-shaped decontamination audit: per doc, its distinct shingle
    * count, how many shingles the Bloom filter flags (the broadcast-
    * free scale path), and how many are EXACTLY in the reference (the
    * semi-join truth) — bloom ≥ exact always; the gap is the measured
    * false-positive overcount. Output: (id, n_shingles, n_bloom,
    * n_exact), docs with no shingles as zero rows. */
  def bloomDecontaminationAudit(docs: DataFrame, ref: DataFrame,
                                idCol: String, textCol: String,
                                shingleN: Int, m: Int,
                                k: Int): DataFrame = {
    val sh = Dedup.shingleSets(docs, idCol, textCol, shingleN)
    val refSh = Dedup.shingleSets(ref, idCol, textCol, shingleN)
      .select("shingle").distinct()
    val bits = bloomBuild(refSh, "shingle", m, k)
    val flagged = sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(bloomProbe(bits, m, k)(col("shingle")).cast("long"))
          .as("n_bloom"))
    val exact = sh.join(refSh, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_exact"))
    docs.select(col(idCol))
      .join(flagged, Seq(idCol), "left")
      .join(exact, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** KMV (k-minimum-values, Bar-Yossef et al. 2002) shingle sketch per
    * `groupCol`: the k smallest distinct shingle hashes of each group.
    * The sketch is the scale path for corpus-overlap questions the
    * exact digest matrix (Dedup.overlapMatrix) answers by shuffling
    * every fingerprint: a fixed k·|groups| frame summarizes any corpus
    * size, is mergeable (k smallest of a union = k smallest of the
    * concatenated sketches), and pairwise Jaccard between groups is
    * estimable from sketches alone — no second scan.
    *
    * Hash: the house 60-bit md5 prefix reduced mod 2³¹−1
    * (Dedup.minHashP — same arithmetic the MinHash oracle family
    * replays exactly). Bottom-k: ONE bounded ObjectHashAggregate
    * (TopK over the negated hash — partial buffers never exceed k),
    * not a per-group sort window. Returns (groupCol, rank ∈ 1..k,
    * h ascending). */
  def kmvSketch(df: DataFrame, groupCol: String, textCol: String,
                k: Int = 32, shingleN: Int = 3): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val hashed = Dedup.shingleMultiset(df, groupCol, textCol, shingleN)
      .select(col(groupCol),
        pmod(graft.functions.VectorExpressions
          .md5SliceToLong(col("shingle"), 1, 15),
          lit(Dedup.minHashP)).as("h"))
      .distinct()
      .withColumn("_neg", -col("h").cast("double"))
    TopK.perGroup(hashed, groupCol, "_neg", "h", k)
      .select(col(groupCol), col("rank"), col("h"))
  }

  /** Pairwise estimated Jaccard between groups from their KMV
    * sketches: for each group pair, take the k smallest hashes of the
    * sketch UNION (the union's own KMV sketch, by mergeability); the
    * fraction of those present in BOTH sketches estimates J(A,B). When
    * the union holds fewer than k distinct hashes the sketch IS the
    * union and the estimate is exact — the denominator is the kept
    * row count, not k.
    *
    * Pair expansion is sketch-sized (|groups|²·k/2 rows — the frames
    * here are sketches, never corpus data); the per-pair rank runs as
    * a window over ≤2k-row partitions. Returns (g_a, g_b lexicographic,
    * n_common, n_sketch, est_jaccard_micro — floor micros), ordered. */
  def kmvOverlap(sketch: DataFrame, groupCol: String,
                 k: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val groups = sketch.select(col(groupCol).as("g_a")).distinct()
    val pairs = groups.crossJoin(
        broadcast(sketch.select(col(groupCol).as("g_b")).distinct()))
      .filter(col("g_a") < col("g_b"))
    val sa = sketch.select(col(groupCol).as("g_a"), col("h"))
    val sb = sketch.select(col(groupCol).as("g_b"), col("h"))
    val rows = pairs.join(sa, Seq("g_a")).withColumn("_side", lit("a"))
      .unionByName(pairs.join(sb, Seq("g_b")).withColumn("_side", lit("b")))
    val w = Window.partitionBy("g_a", "g_b").orderBy("h")
    rows.groupBy("g_a", "g_b", "h")
      .agg(count(lit(1)).as("_nside"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .groupBy("g_a", "g_b")
      .agg(count(lit(1)).as("n_sketch"),
        coalesce(sum(when(col("_nside") === 2, 1L)), lit(0L))
          .as("n_common"))
      .withColumn("est_jaccard_micro",
        expr("n_common * 1000000L div greatest(n_sketch, 1L)"))
      .select(col("g_a"), col("g_b"), col("n_common"), col("n_sketch"),
        col("est_jaccard_micro"))
      .orderBy("g_a", "g_b")
  }

  /** EXACT heavy hitters with a CMS pre-filter — the keys whose true
    * count n satisfies n·k ≥ N (the φ = 1/k frequent-items threshold,
    * written multiplication-only so no division semantics can
    * diverge). The [[cmsSketch]] estimate NEVER undercounts, so
    * filtering rows by est·k ≥ N has no false negatives; the exact
    * aggregate then runs over candidate rows only. That is the whole
    * 100 TB story: the full key space (billions of distinct URLs /
    * tokens) is never shuffled — the d×w grid (≤ 8·65536 cells)
    * collects to the driver once and rides every row as ONE array
    * literal probed per-row in the scan (map-side, codegen'd), and the
    * only shuffle is the candidate subset, ≤ k·(collision overcount)
    * keys' rows. Both passes read the source (sketch pass + filtered
    * exact pass) — still two scans, zero wide exchanges of the
    * non-heavy mass.
    *
    * Returns exact (key, n) for true heavy hitters, ordered
    * (n DESC, key ASC) — identical to the direct HAVING n·k ≥ N
    * answer, which is the oracle twin. */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int,
                   cmsDepth: Int = 4, cmsWidth: Int = 4096): DataFrame = {
    require(k >= 2 && k <= 1000000, s"k must be in [2, 1e6]: $k")
    require(cmsDepth >= 2 && cmsDepth <= 8,
      s"cmsDepth must be in [2, 8]: $cmsDepth")
    require(cmsWidth >= 16 && cmsWidth <= 65536,
      s"cmsWidth must be in [16, 65536] (the grid collects): $cmsWidth")
    val keys = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("key"))
    val nTotal = keys.count()
    val grid = Array.fill(cmsDepth * cmsWidth)(0L)
    cmsSketch(keys, "key", cmsDepth, cmsWidth)
      .limit(cmsDepth * cmsWidth + 1).collect()
      .foreach(r => grid(r.getInt(0) * cmsWidth + r.getLong(1).toInt) =
        r.getLong(2))
    val gridLit = typedLit(grid.toSeq)
    val est = least((0 until cmsDepth).map(i =>
      element_at(gridLit,
        (bloomPos(col("key"), i, cmsWidth) + lit(i.toLong * cmsWidth) +
          lit(1L)).cast("int"))): _*)
    keys.filter(est * lit(k.toLong) >= lit(nTotal))
      .groupBy("key").agg(count(lit(1)).as("n"))
      .filter(col("n") * lit(k.toLong) >= lit(nTotal))
      .orderBy(col("n").desc, col("key").asc)
  }
}
