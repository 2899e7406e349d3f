package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB):
  *   - Exact dedup is a hash groupBy on a digest — one shuffle on the
  *     digest key, map-side partial aggregation, no raw text movement
  *     beyond the first shuffle (group by md5, not by the text itself).
  *   - MinHash signatures are per-row narrow expressions + ONE groupBy
  *     per doc (all K min-aggregates fused in a single hash aggregate).
  *     LSH banding then joins on (band, signature) — the classic
  *     sub-quadratic candidate generation; only docs sharing a band
  *     bucket ever meet, so the join cardinality tracks true-duplicate
  *     density, not n².
  *   - SimHash is the same shape with bit-vote aggregates.
  *   - Pairwise Jaccard is quadratic by nature — use it only on LSH
  *     candidates or an explicitly bounded subset (callers pass a
  *     pre-filtered frame).
  *
  * Hashing is SQL-portable by construction: exact dedup, SimHash, and
  * LSH band signatures use md5 hex strings; MinHash signatures are
  * numeric longs from a seeded universal hash family over one md5-based
  * base digest ([[minHashSignatures]]/[[minHashCoeffs]] — the DuckDB
  * oracle interpolates the same coefficients and replays the identical
  * 64-bit arithmetic).
  */
object Dedup {

  /** Whitespace tokens, lowercased, empties dropped (mirrors
    * TextAnalysis.tokens; kept here to make Dedup self-contained). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles from an ALREADY-MATERIALIZED token-array
    * column — pure per-row expression (no shuffle, whole-stage
    * codegen'd). Rows with fewer than n tokens yield an empty array.
    *
    * Takes the token array rather than raw text deliberately: inlining
    * `tokens(text)` here would nest the regex split inside the
    * `transform` lambda, and codegen evaluates lambda bodies per
    * element — re-tokenizing the whole document once per shingle
    * (measured ~5× slowdown). Callers project the token array once,
    * then shingle from the attribute. */
  def shingleArray(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** (id, shingle) pairs WITH duplicates — no shuffle at all (projection
    * + explode). Enough for any duplicate-insensitive consumer
    * (min/max/distinct-count aggregates). */
  def shingleMultiset(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(shingleArray(col("_toks"), n)).as("shingle"))

  /** Distinct (id, shingle) pairs — the set representation Jaccard
    * consumes (intersection/union counts need set semantics). One
    * shuffle on (id, shingle). MinHash deliberately skips this:
    * min-aggregates are duplicate-insensitive, so it feeds the
    * multiset straight into the signature aggregation and saves the
    * distinct shuffle. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame =
    shingleMultiset(df, idCol, textCol, n).distinct()

  /** MinHash signature: K independent hash functions h_k(s) =
    * (a_k · h(s) + b_k) mod p over ONE base digest h(s) per shingle;
    * the signature component is the numeric min. Returns
    * (idCol, h0..h{k-1}) as longs. Single fused hash aggregate.
    *
    * ONE md5 per shingle, not numHashes: h(s) is the first 15 hex chars
    * of md5(s) (60 bits) reduced mod p, and the k-th hash is the
    * universal-family mix (a_k · h + b_k) mod p with fixed seeded
    * coefficients ([[minHashCoeffs]]). Hashing is the dominant map-side
    * cost of MinHash at scale — this cuts it ~numHashes× (measured ~2×
    * end-to-end on the sf0.1 gate queries). p = 2³¹−1 keeps every
    * product inside 63 bits (a_k, h < 2³¹ ⇒ a_k·h < 2⁶²), so the same
    * arithmetic runs exactly in any 64-bit SQL engine — the DuckDB
    * oracle replays it verbatim. 31-bit component space is ample for
    * min-tracking (collisions need ~2¹⁵·⁵ distinct shingles per doc by
    * birthday, and a collision only perturbs one of numHashes
    * components). */
  def minHashSignatures(shingles: DataFrame, idCol: String,
                        numHashes: Int = 16): DataFrame = {
    val base = pmod(
      // fused md5-slice kernel (spec-pinned ≡ the conv/substring twin)
      graft.functions.VectorExpressions
        .md5SliceToLong(col("shingle"), 1, 15),
      lit(minHashP))
    val withBase = shingles.withColumn("_hh", base)
    val aggs = minHashCoeffs(numHashes).zipWithIndex.map { case ((a, b), k) =>
      min((lit(a) * col("_hh") + lit(b)) % lit(minHashP)).as(s"h$k")
    }
    withBase.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Modulus of the universal hash family: the Mersenne prime 2³¹−1. */
  val minHashP: Long = 2147483647L

  /** Fixed (a_k, b_k) coefficient pairs, a ∈ [1, p), b ∈ [0, p) from a
    * seeded RNG — public so the DuckDB oracle interpolates the SAME
    * constants (single source of truth). */
  def minHashCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(0x5EED1234L)
    Seq.fill(numHashes)((
      1L + rng.nextLong(minHashP - 1),
      rng.nextLong(minHashP)))
  }

  /** LSH banding: split the K-component signature into `bands` bands of
    * K/bands rows each, hash each band to one bucket key. Returns
    * (idCol, band, sig) — one row per (doc, band). */
  def lshBands(signatures: DataFrame, idCol: String, numHashes: Int = 16,
               bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly; " +
        "a remainder would silently drop trailing signature components " +
        "and weaken LSH recall")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(k => col(s"h$k"))
      // ':'-separated before hashing: signature components are longs,
      // and bare concatenation would alias e.g. (12, 3) with (1, 23)
      struct(lit(b).as("band"), md5(concat_ws(":", cols: _*)).as("sig"))
    }
    signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band"), col("bs.sig"))
  }

  /** Estimated Jaccard for candidate pairs from their MinHash
    * signatures: the fraction of matching signature components is an
    * unbiased estimator of the true Jaccard similarity. Joins the
    * signature table (one row per doc) to both sides of the candidate
    * pairs — at scale this touches only candidate-pair rows, never
    * re-reading text. Returns (id_a, id_b, est_jaccard). */
  def minHashJaccardEstimate(pairs: DataFrame, signatures: DataFrame,
                             idCol: String,
                             numHashes: Int = 16): DataFrame = {
    val sigCols = (0 until numHashes).map(k => s"h$k")
    def side(suffix: String) = signatures.select(
      (col(idCol).as(s"id_$suffix") +:
        sigCols.map(c => col(c).as(s"${c}_$suffix"))): _*)
    val matches = (0 until numHashes)
      .map(k => when(col(s"h${k}_a") === col(s"h${k}_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("est_jaccard",
        matches.cast("double") / lit(numHashes.toDouble))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** MinHash+LSH candidate pairs: docs sharing any band bucket.
    * The self-join shuffles on (band, sig) only; distinct pairs out.
    * Returns (id_a, id_b) with id_a < id_b. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 16,
                        bands: Int = 4): DataFrame = {
    val sh = shingleMultiset(df, idCol, textCol, shingleN)
    val sig = minHashSignatures(sh, idCol, numHashes)
    candidatePairs(lshBands(sig, idCol, numHashes, bands), idCol)
  }

  /** Incremental LSH near-dup gate against a PERSISTED signature store
    * — the shape an hourly-fed corpus actually runs: the store holds
    * one MinHash signature row per already-accepted document (tiny —
    * doc-count-sized, numHashes longs each, persisted as plain
    * parquet); each new batch is shingled/signed ONCE, banded, and
    * joined to the re-banded store. Banding from stored signatures is
    * pure arithmetic over numHashes columns — re-deriving it each run
    * beats persisting 4× band rows. Nothing in the store's original
    * text is ever re-read.
    *
    * The dup decision is the q37 estimator kept EXACT-integer: matching
    * signature components (0..numHashes) against `minMatches` — no
    * float threshold, so a DuckDB oracle replays the decision
    * bit-for-bit. Best match per new doc under the total order
    * (matches DESC, store id ASC), via one min(struct) aggregate.
    *
    * Returns one row per NEW document: (idCol, n_candidates,
    * best_store_id — null when no band collides, best_matches, is_dup),
    * ordered by idCol. Non-dup rows' signatures are what a pipeline
    * appends back to the store ([[minHashSignatures]] over the same
    * batch — already computed here, shared via the plan). */
  def lshDedupAgainstStore(newDocs: DataFrame, idCol: String,
                           textCol: String, storeSigs: DataFrame,
                           shingleN: Int = 3, numHashes: Int = 16,
                           bands: Int = 4, minMatches: Int = 13): DataFrame = {
    require(minMatches >= 1 && minMatches <= numHashes,
      s"minMatches ($minMatches) must be in [1, $numHashes]")
    // Reserved-name guard (the repo-standard require-reject of sibling
    // operators): an idCol named like a working/output column would
    // silently shadow the band join keys or the report schema.
    val reserved = Set("band", "sig", "n_candidates", "best_store_id",
      "best_matches", "is_dup")
    require(!reserved.contains(idCol),
      s"lshDedupAgainstStore: idCol `$idCol` collides with a reserved " +
        s"working/output column (${reserved.toSeq.sorted.mkString(", ")})")
    val sigCols = (0 until numHashes).map(k => s"h$k")
    require(sigCols.forall(storeSigs.columns.contains),
      s"storeSigs must carry signature columns h0..h${numHashes - 1} " +
        s"(found: ${storeSigs.columns.mkString(", ")})")
    require(storeSigs.columns.contains(idCol),
      s"storeSigs must carry the id column `$idCol` " +
        s"(found: ${storeSigs.columns.mkString(", ")})")
    val newSigs = minHashSignatures(
      shingleMultiset(newDocs, idCol, textCol, shingleN), idCol, numHashes)
    val nb = lshBands(newSigs, idCol, numHashes, bands)
      .withColumnRenamed(idCol, "_new_id")
    val sb = lshBands(storeSigs, idCol, numHashes, bands)
      .withColumnRenamed(idCol, "_store_id")
    val cand = nb.join(sb, Seq("band", "sig"))
      .select("_new_id", "_store_id").distinct()
    val matches = (0 until numHashes)
      .map(k => when(col(s"_a_h$k") === col(s"_b_h$k"), 1).otherwise(0))
      .reduce(_ + _)
    def side(src: DataFrame, as: String) = src.select(
      (col(idCol).as(s"_${as}_id") +:
        sigCols.map(c => col(c).as(s"_${as}_$c"))): _*)
    val scored = cand
      .join(side(newSigs, "a"), col("_new_id") === col("_a_id"))
      .join(side(storeSigs, "b"), col("_store_id") === col("_b_id"))
      .select(col("_new_id"), col("_store_id"),
        matches.cast("int").as("_matches"))
    val best = scored.groupBy("_new_id")
      .agg(count(lit(1)).as("n_candidates"),
        min(struct((lit(numHashes) - col("_matches")).as("_mm"),
          col("_store_id").as("_sid"))).as("_b"))
      .select(col("_new_id"), col("n_candidates"),
        col("_b._sid").as("best_store_id"),
        (lit(numHashes) - col("_b._mm")).cast("int").as("best_matches"))
    newDocs.select(col(idCol))
      .join(best, col(idCol) === col("_new_id"), "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_store_id"),
        coalesce(col("best_matches"), lit(0)).as("best_matches"))
      .withColumn("is_dup", col("best_matches") >= minMatches)
      .orderBy(idCol)
  }

  /** Incremental banded-Hamming near-dup gate against a PERSISTED
    * bit-signature store — [[lshDedupAgainstStore]]'s shape for
    * FIXED-WIDTH signatures (dHash/SimHash): the store holds one
    * 64-bit (or narrower) signature per accepted item, each new batch
    * is signed once and banded, and the asymmetric probe join (batch
    * side enumerates single-bit band flips, store side stays exact)
    * finds every pair within `maxHamming` by the [[signatureNearDup]]
    * pigeonhole — without ever re-reading a stored payload. The
    * production pass an hourly image/media feed runs.
    *
    * Returns one row per NEW item: (idCol, n_matches, best_store_id —
    * null when nothing within range, best_hamming, is_dup), ordered
    * by idCol; best is min under (hamming ASC, store id ASC). */
  def signatureDedupAgainstStore(batchSigs: DataFrame, idCol: String,
                                 sigCol: String, storeSigs: DataFrame,
                                 maxHamming: Int, bands: Int, bits: Int,
                                 bandErrors: Int = 1): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(bits >= 1 && bits <= 64, s"bits ($bits) must be in [1, 64]")
    require(bandErrors == 0 || bandErrors == 1,
      s"bandErrors ($bandErrors) must be 0 or 1")
    require(maxHamming <= bands * (bandErrors + 1) - 1,
      s"maxHamming ($maxHamming) must be ≤ bands·(bandErrors+1)−1 " +
        s"(${bands * (bandErrors + 1) - 1}) for the banded join to be " +
        "exact; raise bands/bandErrors or lower the threshold")
    val rb = bits / bands
    require(rb <= 62, s"band width $rb overflows the long mask")
    val reserved = Set("band", "bv", "n_matches", "best_store_id",
      "best_hamming", "is_dup")
    require(!reserved.contains(idCol),
      s"signatureDedupAgainstStore: idCol `$idCol` collides with a " +
        s"reserved column (${reserved.toSeq.sorted.mkString(", ")})")
    require(storeSigs.columns.contains(idCol) &&
        storeSigs.columns.contains(sigCol),
      s"storeSigs must carry `$idCol` and `$sigCol` " +
        s"(found: ${storeSigs.columns.mkString(", ")})")
    def bandsOf(sig: Column) = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * rb).bitwiseAND(lit((1L << rb) - 1))
          .as("bv"))
    }
    val nb = batchSigs
      .select(col(idCol).as("_new_id"), col(sigCol).as("_nsig"))
      .select(col("_new_id"), col("_nsig"),
        explode(array(bandsOf(col("_nsig")): _*)).as("bs"))
      .select(col("_new_id"), col("_nsig"),
        col("bs.band").as("band"), col("bs.bv").as("bv"))
    val probe =
      if (bandErrors == 0) nb
      else nb.select(col("_new_id"), col("_nsig"), col("band"),
        explode(array((col("bv") +: (0 until rb).map(i =>
          col("bv").bitwiseXOR(lit(1L << i)))): _*)).as("bv"))
    val build = storeSigs
      .select(col(idCol).as("_store_id"), col(sigCol).as("_ssig"))
      .select(col("_store_id"), col("_ssig"),
        explode(array(bandsOf(col("_ssig")): _*)).as("bs"))
      .select(col("_store_id"), col("_ssig"),
        col("bs.band").as("band"), col("bs.bv").as("bv"))
    val cand = probe.join(build, Seq("band", "bv"))
      .select(col("_new_id"), col("_store_id"),
        bit_count(col("_nsig").bitwiseXOR(col("_ssig"))).cast("int")
          .as("_h"))
      .filter(col("_h") <= maxHamming)
      .distinct()
    val best = cand.groupBy("_new_id")
      .agg(count(lit(1)).as("n_matches"),
        min(struct(col("_h").as("_hm"), col("_store_id").as("_sid")))
          .as("_b"))
    batchSigs.select(col(idCol))
      .join(best, col(idCol) === col("_new_id"), "left")
      .select(col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("_b._sid").as("best_store_id"),
        col("_b._hm").as("best_hamming"),
        (coalesce(col("n_matches"), lit(0L)) > 0L).as("is_dup"))
      .orderBy(idCol)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): the local-minimum kgram-hash selection whose
    * guarantee is positional — any shared run of `window + kgram − 1`
    * tokens between two documents yields at least one shared
    * fingerprint — at an expected density of 2/(window+1) of the kgram
    * count. The selection primitive under code/document plagiarism and
    * overlap detection, complementary to MinHash (which bounds global
    * resemblance, not local containment).
    *
    * Dataflow: kgram hashes ride the shingle explode (the house 60-bit
    * md5 prefix mod 2³¹−1); the rolling minimum is ONE doc-partitioned
    * window over `window` following rows — partitioned by document, so
    * it distributes with the corpus — then distinct (doc, hash).
    * Windows extending past the last kgram are dropped (full windows
    * only, per the paper); a document with fewer than `window` kgrams
    * keeps its single global-minimum fingerprint. Returns
    * (idCol, fingerprint) distinct. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         kgram: Int = 3, window: Int = 4): DataFrame = {
    require(kgram >= 1, s"kgram must be >= 1, got $kgram")
    require(window >= 2, s"window must be >= 2, got $window")
    import org.apache.spark.sql.expressions.Window
    // _m (the kgram count) via the arithmetic identity
    // greatest(|toks| − (kgram−1), 0), NOT size(shingleArray(...)):
    // Catalyst places a second shingleArray projection ABOVE the
    // Generate, re-running the O(tokens) interpreted transform lambda
    // once per exploded kgram row — O(tokens²) per document (measured
    // 25→3–5 s at sf0.1; ~100–1000× wasted work at real 10³–10⁴-token
    // docs). Pre-projecting `_sa = shingleArray(_toks)` is NOT a fix:
    // CollapseProject re-inlines tokens() into the lambda (the
    // shingleArray docstring trap). The generator must sit directly on
    // the materialized _toks attribute.
    val sh = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        greatest(size(col("_toks")) - lit(kgram - 1), lit(0)).as("_m"),
        posexplode(shingleArray(col("_toks"), kgram))
          .as(Seq("_pos", "_shingle")))
      .withColumn("_h", pmod(
        graft.functions.VectorExpressions
          .md5SliceToLong(col("_shingle"), 1, 15),
        lit(minHashP)))
    val w = Window.partitionBy(idCol).orderBy("_pos")
      .rowsBetween(Window.currentRow, window - 1)
    sh.withColumn("_wmin", min("_h").over(w))
      .filter(col("_pos") <= greatest(col("_m") - window, lit(0)))
      .select(col(idCol), col("_wmin").as("fingerprint"))
      .distinct()
  }

  /** Winnowing fingerprint-overlap pairs — the MOSS CONSUMER of
    * [[winnowFingerprints]]: documents sharing selected fingerprints,
    * with counts and a local-containment estimate. The positional
    * guarantee is the point: any shared token run of
    * `window + kgram − 1` tokens yields ≥ 1 shared fingerprint, so
    * this catches copied PASSAGES (plagiarism, license boilerplate,
    * contaminated eval questions embedded in a larger page) that
    * global-resemblance MinHash misses — the complement of q17/q60.
    *
    * Dataflow: fingerprints are computed ONCE (localCheckpoint — three
    * consumers: per-doc sizes and both join sides); per-fingerprint
    * document frequency is computed first and fingerprints outside
    * [2, maxDocFreq] never enter the pair join — singletons can't form
    * pairs, and over-common fingerprints (site chrome, license
    * headers) are the quadratic blowup knob, the standard MOSS "too
    * common to be interesting" cut. The pair space is therefore
    * bounded by Σ_f df(f)² over surviving fingerprints, not corpus².
    *
    * overlap_micro = n_shared·10⁶ div min(n_a, n_b) — exact integer
    * containment of the smaller doc's fingerprint set, floor micros.
    *
    * Returns (id_a < id_b, n_shared ≥ minShared, n_a, n_b,
    * overlap_micro), ordered by (id_a, id_b). */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         kgram: Int = 3, window: Int = 4,
                         minShared: Int = 1,
                         maxDocFreq: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    val reserved = Set("fingerprint", "id_a", "id_b", "n_shared",
      "n_a", "n_b", "overlap_micro")
    require(!reserved.contains(idCol),
      s"winnowOverlapPairs: idCol `$idCol` collides with a reserved " +
        s"working/output column (${reserved.toSeq.sorted.mkString(", ")})")
    val fp = winnowFingerprints(df, idCol, textCol, kgram, window)
      .localCheckpoint()
    val sizes = fp.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val joinable = fp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDocFreq)
      .select(col("fingerprint"))
    val fpk = fp.join(joinable, Seq("fingerprint"))
    fpk.select(col("fingerprint"), col(idCol).as("id_a"))
      .join(fpk.select(col("fingerprint"), col(idCol).as("id_b")),
        Seq("fingerprint"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col(idCol).as("id_a"), col("_n").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("_n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("n_shared * 1000000L div least(n_a, n_b)")
          .as("overlap_micro"))
      .orderBy("id_a", "id_b")
  }

  /** Incremental winnowing overlap gate against a PERSISTED fingerprint
    * store — the plagiarism/contamination check a GROWING corpus
    * actually runs (the [[lshDedupAgainstStore]] / CDC-store pattern
    * applied to [[winnowFingerprints]]): the store holds one
    * (idCol, fingerprint) row per selected fingerprint of every
    * already-accepted document; each new batch is fingerprinted ONCE
    * and equi-joined to the store. Nothing in the store's original
    * text is ever re-read, and non-flagged batches append their own
    * fingerprint rows back (already computed here, shared via the
    * plan).
    *
    * Per new document: total fingerprints, how many exist ANYWHERE in
    * the store (distinct containment), and the single best-matching
    * store document under the total order (shared DESC, store id ASC)
    * via one min(struct) fold. is_flagged = best_shared ≥ minShared —
    * exact integers end to end, DuckDB-replayable.
    *
    * Returns one row per NEW document: (idCol, n_fingerprints,
    * n_matched, best_store_id — null when nothing matches,
    * best_shared, is_flagged), ordered by idCol. */
  def winnowDedupAgainstStore(newDocs: DataFrame, idCol: String,
                              textCol: String, storeFps: DataFrame,
                              kgram: Int = 3, window: Int = 4,
                              minShared: Int = 2): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val reserved = Set("fingerprint", "n_fingerprints", "n_matched",
      "best_store_id", "best_shared", "is_flagged")
    require(!reserved.contains(idCol),
      s"winnowDedupAgainstStore: idCol `$idCol` collides with a " +
        s"reserved working/output column " +
        s"(${reserved.toSeq.sorted.mkString(", ")})")
    require(storeFps.columns.contains(idCol) &&
      storeFps.columns.contains("fingerprint"),
      s"storeFps must carry (`$idCol`, fingerprint) " +
        s"(found: ${storeFps.columns.mkString(", ")})")
    val fp = winnowFingerprints(newDocs, idCol, textCol, kgram, window)
      .withColumnRenamed(idCol, "_new_id")
      .localCheckpoint()
    val hits = fp.join(
      storeFps.select(col(idCol).as("_store_id"), col("fingerprint")),
      Seq("fingerprint"))
    val matched = hits.groupBy(col("_new_id"))
      .agg(count_distinct(col("fingerprint")).as("n_matched"))
    val best = hits.groupBy(col("_new_id"), col("_store_id"))
      .agg(count(lit(1)).as("_shared"))
      .groupBy(col("_new_id"))
      .agg(min(struct((-col("_shared")).as("_ns"),
        col("_store_id").as("_sid"))).as("_b"))
      .select(col("_new_id"), col("_b._sid").as("best_store_id"),
        (-col("_b._ns")).as("best_shared"))
    val counts = fp.groupBy(col("_new_id"))
      .agg(count(lit(1)).as("n_fingerprints"))
    newDocs.select(col(idCol))
      .join(counts.withColumnRenamed("_new_id", idCol), Seq(idCol), "left")
      .join(matched.withColumnRenamed("_new_id", idCol), Seq(idCol), "left")
      .join(best.withColumnRenamed("_new_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        col("best_store_id"),
        coalesce(col("best_shared"), lit(0L)).as("best_shared"))
      .withColumn("is_flagged", col("best_shared") >= minShared)
      .orderBy(idCol)
  }

  /** Passage-level benchmark decontamination — the winnowing
    * application of the q46/q127/q142 family: drop every corpus
    * document sharing ≥ `minShared` selected fingerprints with the
    * eval/benchmark set. Exact-match and n-gram decontamination miss a
    * benchmark QUESTION embedded inside a larger page; the winnowing
    * positional guarantee (any shared run of `window + kgram − 1`
    * tokens yields a shared fingerprint) is precisely the
    * contaminated-passage detector. The eval side is fingerprinted
    * once (benchmark-sized — broadcastable in practice); the corpus is
    * fingerprinted once and equi-joined — the [[winnowDedupAgainstStore]]
    * dataflow with the eval set as the store. Returns the SURVIVING
    * corpus rows unchanged (the q46 convention). */
  def winnowDecontaminate(corpus: DataFrame, idCol: String,
                          textCol: String, evalDocs: DataFrame,
                          kgram: Int = 3, window: Int = 4,
                          minShared: Int = 2): DataFrame = {
    val evalFps = winnowFingerprints(evalDocs, idCol, textCol,
      kgram, window)
    val report = winnowDedupAgainstStore(corpus, idCol, textCol,
      evalFps, kgram, window, minShared)
    corpus.join(report.filter(!col("is_flagged")).select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Candidate pairs from an EXISTING banded frame (id, band, sig) —
    * the from-signatures entry point, so compositions that already hold
    * signatures (estimate, exact-verify) never re-shingle or re-hash
    * the corpus. Shuffles on (band, sig) only; distinct pairs out,
    * id_a < id_b. */
  def candidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band"), col("sig"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band"), col("sig"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Shared Jaccard tail: given intersection counts (id_a, id_b, inter)
    * and per-doc set sizes (idCol, sz), compute |∩| / |∪| and apply the
    * threshold. One definition keeps [[jaccardPairs]],
    * [[jaccardOverCandidates]], and the DuckDB oracle in lockstep. */
  private def jaccardFinish(inter: DataFrame, sizes: DataFrame,
                            idCol: String, threshold: Double): DataFrame =
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Pairwise n-gram Jaccard similarity over shingle sets, via a
    * shingle-equality self-join (intersection counts) + per-doc set
    * sizes. Quadratic in bucket size — callers bound the input (LSH
    * candidates or an id filter). Returns (id_a, id_b, jaccard). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleSets(df, idCol, textCol, shingleN)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // Scale note: on natural (non-templated) text, pre-pruning singleton
    // shingles (groupBy(shingle).count > 1 + semi-join) shrinks this
    // self-join's input dramatically and is result-identical. Measured
    // on the templated testdata (99% of shingles shared) the prune's two
    // extra shuffles cost more than they save, so it is not applied here;
    // apply it when corpus shingle-sharing is sparse.
    val inter = sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    jaccardFinish(inter, sizes, idCol, threshold)
  }

  /** Exact intersection counts for given candidate pairs: attach the
    * A-side shingle set, equi-join on (id_b, shingle) — never
    * shingle-vs-shingle on the full table. Shared by the LSH-gated and
    * prefix-filtered Jaccard variants. */
  private def interOnCandidates(cand: DataFrame, sh: DataFrame,
                                idCol: String): DataFrame =
    cand
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))

  /** EXACT and COMPLETE pairwise Jaccard ≥ threshold, sub-quadratic via
    * PREFIX FILTERING (the SSJoin/ppjoin principle) — unlike
    * [[jaccardOverCandidates]] there is no LSH recall loss: every
    * qualifying pair is returned, with a proof rather than a
    * probability.
    *
    * Principle: order all shingles by a global total order (ascending
    * corpus frequency, rarest first, ties by value). If
    * J(a,b) ≥ t then |a∩b| ≥ ⌈t·max(|a|,|b|)⌉, and a set x can only
    * fit that overlap if some common shingle falls in its first
    * |x| − ⌈t·|x|⌉ + 1 shingles (else all common shingles squeeze into
    * a suffix smaller than the overlap — contradiction). So joining
    * PREFIXES on shingle equality finds a superset of all qualifying
    * pairs; exact Jaccard verification on those candidates makes the
    * result exact.
    *
    * Scale shape: one frequency aggregate (shuffle by shingle), one
    * per-document ranking window (partitions = single-doc shingle sets,
    * bounded by doc length), a prefix equi-join whose key is the
    * rarest-first prefix — hot ubiquitous shingles sort LAST and rarely
    * enter prefixes, which is what tames the hot-shingle k² blowup the
    * naive self-join suffers — then candidate-bounded verification.
    * Higher thresholds shrink prefixes (t=0.9 keeps ~10% of shingles),
    * so cost tracks the duplicate density being hunted.
    *
    * POSITIONAL filtering (the ppjoin refinement, Xiao et al. 2008)
    * prunes the verify set further, at zero extra shuffle: the
    * candidate dedup is a per-pair aggregate anyway, so it also counts
    * the common prefix shingles `c` and takes the LAST match's
    * positions (ia, ib) in each doc's global-order ranking. Global
    * order consistency makes every common shingle earlier than the
    * last match — in EITHER doc — itself a prefix match (it precedes
    * the match in both docs, hence sits in both prefixes), so the true
    * overlap is bounded by c + min(|a|−ia, |b|−ib); a pair that can't
    * reach the overlap threshold α = ⌈t/(1+t)·(|a|+|b|)⌉ skips
    * verification entirely. Only sub-threshold pairs are pruned, so
    * the output is bit-identical (spec-pinned against the unfiltered
    * formulation). Returns (id_a, id_b, jaccard). */
  def jaccardPairsComplete(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3,
                           threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1]: $threshold")
    // The shingle-set frame feeds five consumers (frequency, sizes,
    // prefix, both verification joins). The r6-era assumption that
    // ReuseExchange deduplicates the identical distinct subplans did
    // NOT hold in the executed plan by round 12: the q126 dump showed
    // TWELVE parquet scans of the corpus, because most consumers reach
    // sh through BroadcastHashJoin build sides with differing
    // projections — no exchange to reuse. localCheckpoint (eager)
    // materializes tokenize+shingle+distinct ONCE; unlike the
    // MEMORY_AND_DISK persist measured ~20% slower back then, the
    // checkpoint stores the post-distinct frame as-is and every
    // consumer reads it (A/B r12: q126 6.5→3.3 s, q60 — see
    // OPTIMIZATION_r12.md). Corpus-bounded intra-query reuse, the
    // dsirScores convention.
    val sh = shingleSets(df, idCol, textCol, shingleN).localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("gf"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("gf").asc, col("shingle").asc)
    val pref = sh
      .join(freq, "shingle")
      .join(sizes, idCol)
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col(idCol), col("shingle"), col("sz"), col("pos"))
    // LENGTH filter inside the join (J ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t):
    // prunes size-incompatible pairs before the pair-aggregate, for
    // free — sizes already ride on the prefix rows
    val matches = pref.select(col(idCol).as("id_a"), col("shingle"),
        col("sz").as("sz_a"), col("pos").as("pos_a"))
      .join(pref.select(col(idCol).as("id_b"), col("shingle"),
        col("sz").as("sz_b"), col("pos").as("pos_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") >= ceil(lit(threshold) * col("sz_a")) &&
        col("sz_a") >= ceil(lit(threshold) * col("sz_b")))
    // the dedup the old `.distinct()` did, upgraded to the positional
    // filter: same shuffle (one hash agg by pair), tighter output.
    // max(pos_a)/max(pos_b) land on the SAME shingle — the latest match
    // in the global order is latest in both docs — and sz is constant
    // per doc, so max() is just a carry.
    //
    // The keep-condition is the overlap BOUND run through the exact
    // Jaccard form jaccardFinish applies — ub/(sza+szb−ub) ≥ t, the
    // same double division and comparison — NOT a ceil of the
    // t/(1+t)·(sza+szb) rational: that ratio is irrational in binary
    // (e.g. t=0.4 → 0.2857…5 > 2/7) and its ceil rounds UP past the
    // exact threshold at many (t, size) combinations, pruning boundary
    // pairs the final filter would keep. x/(s−x) is monotone in x and
    // double rounding preserves monotonicity, so true-overlap ≤ ub
    // qualifying ⇒ ub qualifies: a proven superset with zero float-
    // boundary risk.
    val cand = matches
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_c"),
        max(col("pos_a")).as("_ia"), max(col("pos_b")).as("_ib"),
        max(col("sz_a")).as("_sza"), max(col("sz_b")).as("_szb"))
      .withColumn("_ub", col("_c") +
        least(col("_sza") - col("_ia"), col("_szb") - col("_ib")))
      .filter(col("_ub").cast("double") /
        (col("_sza") + col("_szb") - col("_ub")).cast("double")
        >= threshold)
      .select("id_a", "id_b")
    jaccardFinish(interOnCandidates(cand, sh, idCol), sizes, idCol, threshold)
  }

  /** Exact n-gram Jaccard gated through MinHash+LSH candidate pairs —
    * the 100 TB composition (round-2 verdict item 3): candidate
    * generation is the banded equi-join (cardinality tracks duplicate
    * density), and the exact intersection join then touches only
    * candidate-pair shingle rows instead of self-joining the full
    * shingle table (whose hot shingles explode quadratically).
    *
    * Relative to [[jaccardPairs]]: same output COLUMNS and exact Jaccard
    * values, but restricted to pairs that share at least one LSH band —
    * a pair above `threshold` that misses every band is absent (classic
    * LSH recall trade; at 16 hashes / 4 bands a J=0.5 pair collides with
    * prob 1-(1-0.5⁴)⁴ ≈ 0.23 per its true J... rising steeply toward 1
    * for near-identical docs). The oracle applies the same candidate
    * restriction, so the gate checks the composition exactly. */
  def jaccardOverCandidates(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, threshold: Double = 0.5,
                            numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val shMulti = shingleMultiset(df, idCol, textCol, shingleN)
    val sig = minHashSignatures(shMulti, idCol, numHashes)
    val cand = candidatePairs(lshBands(sig, idCol, numHashes, bands), idCol)
    val sh = shMulti.distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // LENGTH filter before verification (the jaccardPairsComplete
    // idiom): J ≥ t needs the bound |∩| ≤ min(|a|,|b|) to clear the
    // Jaccard form, so a size-incompatible band collision (long doc vs
    // short doc sharing one hot band) is dropped for the price of a
    // broadcast-sized sizes join instead of two shingle-set joins + a
    // count. Output unchanged: only pairs below the final ≥ t filter
    // are pruned, through the SAME division/comparison it applies.
    val sized = cand
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("_sa")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("_sb")), "id_b")
      .filter(least(col("_sa"), col("_sb")).cast("double") /
        (col("_sa") + col("_sb") - least(col("_sa"), col("_sb")))
          .cast("double") >= threshold)
      .select("id_a", "id_b")
    jaccardFinish(interOnCandidates(sized, sh, idCol), sizes, idCol, threshold)
  }

  /** Exact CONTAINMENT over MinHash+LSH candidate pairs:
    * C(a→b) = |a∩b| / |a| ≥ threshold — "at least `threshold` of a's
    * shingles also appear in b". Containment is the dedup relation for
    * SUBSET duplicates (a quote, a mirrored fragment, a doc embedded in
    * a larger one), which symmetric Jaccard systematically misses: a
    * 100-shingle doc fully contained in a 10 000-shingle doc has
    * J ≈ 0.01 but C = 1.0.
    *
    * Output is DIRECTED: (id_small, id_big, containment) where
    * `id_small` is the contained (smaller-set) side — both directions of
    * every candidate pair are evaluated, ties on size broken toward the
    * lower id as id_small. Candidate generation is the same banded LSH
    * equi-join as [[jaccardOverCandidates]] (and shares its recall
    * trade, which the oracle replays exactly); verification reuses the
    * candidate-restricted intersection join, so the added cost over a
    * Jaccard pass is one size comparison. No symmetric-size prefilter is
    * applied — containment has no two-sided length bound (only
    * |b| ≥ t·|a| would hold, and the asymmetric prune is not worth a
    * second sizes join before verification). */
  def containmentOverCandidates(df: DataFrame, idCol: String,
                                textCol: String, shingleN: Int = 3,
                                threshold: Double = 0.5,
                                numHashes: Int = 16,
                                bands: Int = 4): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1]: $threshold")
    val shMulti = shingleMultiset(df, idCol, textCol, shingleN)
    val sig = minHashSignatures(shMulti, idCol, numHashes)
    val cand = candidatePairs(lshBands(sig, idCol, numHashes, bands), idCol)
    val sh = shMulti.distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    interOnCandidates(cand, sh, idCol)
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      // orient: the smaller set is the contained side (ties → lower id)
      .withColumn("id_small",
        when(col("sz_a") < col("sz_b") ||
          (col("sz_a") === col("sz_b") && col("id_a") < col("id_b")),
          col("id_a")).otherwise(col("id_b")))
      .withColumn("id_big",
        when(col("id_small") === col("id_a"), col("id_b"))
          .otherwise(col("id_a")))
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_small", "id_big", "containment")
  }

  /** SimHash over the distinct token set. Each token hashes to `bits`
    * bits (bits/4 hex chars of md5, decoded with an instr-based hex
    * lookup so the identical expression runs in ANSI SQL); per-bit ±1
    * votes are summed per doc; the signature sets bit i iff the vote is
    * positive. Returns (idCol, simhash: long).
    *
    * `bits` sizes the signature (≤ 60 keeps everything in one signed
    * 64-bit long, portable to any SQL engine): 16 is compact for
    * grouping near-identical token sets; [[simHashNearDup]] wants ≥ 32
    * so its band buckets stay selective (2^(bits/bands) buckets per
    * band — the knob that keeps the candidate join sub-quadratic). */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    require(bits > 0 && bits <= 60 && bits % 4 == 0,
      s"bits ($bits) must be a positive multiple of 4, at most 60")
    val toksDistinct = df
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("token"))
    val withHex = toksDistinct.withColumn("hx", md5(col("token")))
    // hex char at position p (1-based) → 0..15; strpos-of-'123456789abcdef'
    // maps '0' (not found) to 0 and '1'..'f' to 1..15.
    def hexVal(p: Int): Column =
      expr(s"instr('123456789abcdef', substr(hx, $p, 1))")
    val votes = (0 until bits).map { i =>
      val p = i / 4 + 1
      val j = i % 4
      sum(when(shiftright(hexVal(p).cast("int"), j).bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val voted = withHex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col(idCol), sig.cast("long").as("simhash"))
  }

  /** SimHash near-duplicate pairs: all pairs whose `bits`-bit signatures
    * differ in at most `maxHamming` bits. Banded sub-quadratic
    * formulation: the bits split into `bands` equal slices, docs
    * equi-join on (band, slice value), and the true Hamming distance is
    * verified with `bit_count(xor)` on the candidates.
    *
    * EXACTNESS (not an empirical recall): by pigeonhole, if every band
    * of a pair differed in more than `bandErrors` bits the total would
    * exceed bands·(bandErrors+1)−1, so for maxHamming within that bound
    * some band differs in ≤ bandErrors bits — and with the probe side
    * enumerating every ≤-bandErrors-bit variant of each band value,
    * that band produces an exact bucket match. The banded join provably
    * finds every qualifying pair; verification then makes the output
    * exact.
    *
    * SCALE — the `bandErrors` knob (HmSearch-style single-error
    * tolerance): candidate cost is Σ_buckets probe·index occupancy, so
    * bucket SELECTIVITY is everything. Plain equality (bandErrors = 0)
    * needs bands ≥ maxHamming+1, i.e. NARROW bands — ham≤3 over 32 bits
    * forces 4×8-bit bands = 256 buckets/band, and occupancy grows
    * linearly with corpus size (the measured 8.8×/decade growth, the
    * round-6 corpus heaviest). bandErrors = 1 halves the band count
    * (ham≤3 needs only 2×16-bit bands = 65 536 buckets/band, a 256×
    * selectivity gain) for a (rb+1)× probe-row fan-out — rows are
    * map-side-cheap, bucket collisions are the quadratic term. Measured
    * at sf1 (28k distinct signatures): pre-verify candidate signature
    * pairs 17.5M → 3.7M (−79%), operator wall −50% in same-session
    * alternating reps; output identical by construction and by count.
    * Returns (id_a, id_b, hamming). */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bands: Int = 4,
                     bits: Int = 32, bandErrors: Int = 0): DataFrame =
    signatureNearDup(simHash(df, idCol, textCol, bits), idCol, "simhash",
      maxHamming, bands, bits, bandErrors)

  /** The banded Hamming near-dup machinery over an ARBITRARY bit
    * signature frame `(idCol, sigCol: long)` — the engine behind
    * [[simHashNearDup]] and the perceptual-hash image near-dup
    * (graft.operators.Multimodal.phashNearDup). Same exactness
    * argument and same bandErrors knob as documented above; `bits` may
    * be up to 64 (band extraction masks after the arithmetic shift, so
    * the sign bit is handled; only SQL-side CONSTRUCTION of signatures
    * is limited to 60 bits). Returns (id_a, id_b, hamming). */
  def signatureNearDup(sigFrame: DataFrame, idCol: String, sigCol: String,
                       maxHamming: Int, bands: Int, bits: Int,
                       bandErrors: Int = 0): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(bits >= 1 && bits <= 64, s"bits ($bits) must be in [1, 64]")
    require(bandErrors == 0 || bandErrors == 1,
      s"bandErrors ($bandErrors) must be 0 (exact bands) or 1 (single-" +
        "flip enumeration); larger tolerances explode combinatorially")
    require(maxHamming <= bands * (bandErrors + 1) - 1,
      s"maxHamming ($maxHamming) must be ≤ bands·(bandErrors+1)−1 " +
        s"(${bands * (bandErrors + 1) - 1}) for the banded join to be " +
        "exact; raise bands/bandErrors or lower the threshold")
    val rb = bits / bands
    require(rb <= 62, s"band width $rb overflows the long mask; use more bands")
    val sig = sigFrame.select(col(idCol), col(sigCol).as("simhash"))
    // SIGNATURE-DEDUP-FIRST: the banded self-join runs over DISTINCT
    // signatures, not documents — on dup-dense corpora (the whole point
    // of running dedup) identical docs collapse to one row before the
    // quadratic-in-bucket step, and the doc-level result is restored by
    // two sig-keyed expansion joins whose output IS the result set (no
    // overhead beyond the true pair density). Hamming verification runs
    // before the distinct, so the dedup shuffle carries only qualifying
    // signature pairs (≤ bands copies each).
    val distinctSigs = sig.select(col("simhash")).distinct()
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * rb).bitwiseAND(lit((1L << rb) - 1))
          .as("bv"))
    }
    val banded = distinctSigs
      .select(col("simhash"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("simhash"), col("bs.band"), col("bs.bv"))
    // probe side: each band value plus (for bandErrors = 1) its rb
    // single-bit flips — a pair whose band differs in ≤1 bit meets at
    // the exact value of the other side
    val probe =
      if (bandErrors == 0) banded
      else banded
        .select(col("simhash"), col("band"),
          explode(array((col("bv") +: (0 until rb).map(i =>
            col("bv").bitwiseXOR(lit(1L << i)))): _*)).as("bv"))
    val sigPairs = probe
      .select(col("band"), col("bv"), col("simhash").as("sig_a"))
      .join(banded.select(col("band"), col("bv"),
        col("simhash").as("sig_b")), Seq("band", "bv"))
      .filter(col("sig_a") < col("sig_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("sig_a", "sig_b", "hamming")
      .distinct()
    val ids = sig.select(col(idCol).as("id"), col("simhash"))
    // same-signature docs: hamming 0 by definition
    val intra = ids.select(col("simhash"), col("id").as("id_a"))
      .join(ids.select(col("simhash"), col("id").as("id_b")), Seq("simhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    // cross-signature docs: expand each qualifying signature pair; ids
    // from different sig groups need explicit id-order normalization
    val cross = sigPairs
      .join(ids.select(col("simhash").as("sig_a"), col("id").as("ia")), "sig_a")
      .join(ids.select(col("simhash").as("sig_b"), col("id").as("ib")), "sig_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    intra.union(cross)
  }

  /** Sub-document exact dedup (the RefinedWeb/Falcon "line dedup"
    * pass, over fixed token blocks since the corpus format has no
    * newlines): split every document into non-overlapping
    * `blockTokens`-token blocks, keep each distinct block content only
    * at its FIRST corpus occurrence (ordered by document id, then
    * block position — deterministic under any partitioning), and
    * reassemble the surviving blocks per document in original order.
    * Boilerplate repeated across documents vanishes from every copy
    * but the first; documents reduced to nothing survive as empty
    * text (they remain addressable for downstream filtering).
    *
    * Shape at scale: block explode is per-row
    * ([[graft.operators.Curation.chunkDocuments]]); first-occurrence
    * is ONE min-aggregate keyed by block digest (never a window over
    * the corpus); reassembly is one per-document aggregate whose
    * buffers are bounded by document length. Returns
    * (idCol, n_blocks, n_kept, dedup_text). */
  def dedupBlocksAcrossDocs(df: DataFrame, idCol: String, textCol: String,
                            blockTokens: Int = 16): DataFrame = {
    val blocks = Curation.chunkDocuments(df, idCol, textCol,
      blockTokens, overlap = 0)
      .withColumn("_digest", md5(col("chunk_text")))
    val firstOwner = blocks
      .groupBy("_digest")
      .agg(min(struct(col(idCol).as("oid"),
        col("chunk_idx").as("oidx"))).as("_first"))
    val kept = blocks.join(firstOwner, "_digest")
      .filter(col(idCol) === col("_first.oid") &&
        col("chunk_idx") === col("_first.oidx"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", array_sort(collect_list(
        struct(col("chunk_idx"), col("chunk_text"))))
        .getField("chunk_text")).as("dedup_text"))
    val totals = blocks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"))
    // anchor on df's OWN id set, not on the block totals: chunkDocuments
    // drops zero-token documents (no blocks to emit), but the one-row-
    // per-input contract promises they survive as (0, 0, "") — the same
    // left-join-back shape repetitionStats/unigramSurprisal use. The
    // second left join then restores fully-DEDUPLICATED documents
    // (blocks existed, none kept) as empty text.
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Exact-duplicate groups by content digest: (digest, cnt, canonical =
    * min id), only groups with >1 member. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("canonical"))
      .filter(col("cnt") > 1)

  /** Unicode-confusable skeleton pairs — a pragmatic subset of UTS #39
    * confusables.txt: Cyrillic and Greek lowercase letters that render
    * identically to Latin glyphs in common fonts map to their Latin
    * skeletons, fullwidth Latin/digits fold to ASCII, NBSP folds to a
    * regular space. ONE literal is the source of truth for the engine
    * and the SQL oracles (the minHashCoeffs discipline). */
  val homoglyphPairs: Seq[(Char, Char)] =
    Seq('а' -> 'a', 'е' -> 'e', 'і' -> 'i', 'ј' -> 'j', 'о' -> 'o',
      'р' -> 'p', 'ѕ' -> 's', 'с' -> 'c', 'у' -> 'y', 'х' -> 'x',
      'ο' -> 'o', 'ι' -> 'i', ' ' -> ' ') ++
      ('ａ' to 'ｚ').zip('a' to 'z') ++ ('０' to '９').zip('0' to '9')

  /** Characters DELETED by the skeleton (no Latin counterpart, no
    * width): zero-width space/joiners, BOM, soft hyphen — the classic
    * dedup-evasion insertions. */
  val homoglyphDeleted: String = "​‌‍﻿­"

  val homoglyphFrom: String =
    homoglyphPairs.map(_._1).mkString + homoglyphDeleted
  val homoglyphTo: String = homoglyphPairs.map(_._2).mkString

  /** Confusable skeleton of a text column: case fold, confusable
    * substitution ([[homoglyphFrom]] → [[homoglyphTo]], extras
    * deleted), then [[TextAnalysis.normalizeText]]'s control/whitespace
    * normalization. Two texts that differ only by homoglyph swaps,
    * zero-width insertions, fullwidth styling or whitespace tricks
    * share a skeleton. Pure codegen'd string expressions — translate +
    * the normalizeText regexes. */
  def homoglyphSkeleton(c: Column): Column =
    TextAnalysis.normalizeText(
      translate(lower(c), homoglyphFrom, homoglyphTo))

  /** Homoglyph-ROBUST exact-duplicate groups — the adversarial
    * complement of [[exactDupGroups]]: spam and dedup-evasion copies
    * swap Latin letters for Cyrillic lookalikes or thread zero-width
    * characters through the text, so their md5 differs while their
    * rendered content does not. Documents collapse by the md5 of their
    * confusable skeleton; each row reports its group and the
    * SOFT-DEDUP loss weight 10⁶ div group_size (the "keep every copy
    * but downweight the cluster" alternative to dropping — D4-style
    * duplicate-aware training). Canonical = min id, the house rule.
    *
    * Shape at 100 TB: one digest hash aggregate + one digest equi-join
    * back (16-byte keys, text never reshuffles — the
    * [[dropExactDuplicates]] shape plus the count join). Returns
    * (idCol, skeleton_digest, group_size, canonical_id, is_canonical,
    * weight_micro). */
  def homoglyphDupGroups(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val reserved = Set("skeleton_digest", "group_size", "canonical_id",
      "is_canonical", "weight_micro")
    val clash = Seq(idCol, textCol).filter(reserved.contains)
    require(clash.isEmpty,
      s"homoglyphDupGroups: reserved column name(s) in inputs: " +
        s"${clash.mkString(", ")}")
    val digests = df.select(col(idCol),
      md5(homoglyphSkeleton(col(textCol))).as("skeleton_digest"))
    val groups = digests.groupBy("skeleton_digest")
      .agg(count(lit(1)).as("group_size"),
        min(col(idCol)).as("canonical_id"))
    digests.join(groups, Seq("skeleton_digest"))
      .select(col(idCol), col("skeleton_digest"), col("group_size"),
        col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("is_canonical"),
        expr("1000000 div group_size").as("weight_micro"))
  }

  /** Keep one row per distinct digest (the min-id row) — the actual
    * "dedup" materialization. Window-free formulation: an aggregation on
    * the digest then a semi-join back, so the heavy side shuffles once
    * on the digest and never sorts. */
  def dropExactDuplicates(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val canon = df
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol))
      .drop("digest")
    df.join(canon, Seq(idCol), "left_semi")
  }

  /** Cross-snapshot exact dedup: drop rows whose content digest already
    * exists in `reference` — the incremental-ingest step that keeps a
    * new crawl/batch from re-adding documents an earlier snapshot
    * already holds. Distinct from [[dropExactDuplicates]] (within one
    * frame) and from [[graft.operators.Curation.decontaminate]]
    * (n-gram OVERLAP, not equality).
    *
    * Shape at scale: both sides reduce to digests — the reference via
    * a distinct aggregate — and meet in one left-anti equi-join keyed
    * on the digest, so the shuffle carries 16-byte keys, never text;
    * AQE broadcasts the reference side when it is small. Within-batch
    * duplicates are NOT collapsed (that is dropExactDuplicates'
    * job — compose them for full idempotent ingest). */
  def dedupAgainstReference(df: DataFrame, reference: DataFrame,
                            textCol: String, refTextCol: String): DataFrame = {
    val seen = reference.select(md5(col(refTextCol)).as("_digest")).distinct()
    df.withColumn("_digest", md5(col(textCol)))
      .join(seen, Seq("_digest"), "left_anti")
      .drop("_digest")
  }

  /** COMPLETE edit-distance self-join (Ed-Join, Xiao et al. 2008): all
    * pairs id_a < id_b with levenshtein ≤ `maxDist` — fuzzy string
    * matching (typo'd titles, OCR'd names) that token-set Jaccard
    * can't see. Same contract as [[jaccardPairsComplete]]: blocking is
    * provably complete, so the oracle is the UNRESTRICTED quadratic —
    * no recall premise.
    *
    * Candidates come from the q-gram prefix filter: d edits destroy at
    * most q·d of a string's N = len−q+1 positional q-grams, so
    * edit(s,t) ≤ d forces a multiset q-gram overlap
    * ≥ max(N_s, N_t) − q·d (Gravano et al. 2001) — and by the prefix
    * principle the (q·d+1)-length rarest-first prefixes of the two
    * gram multisets must intersect. Multiset semantics ride an
    * occurrence index (the k-th copy of gram g in s can only match the
    * k-th copy in t), making the block key the exact (gram, occ) pair
    * under one global (frequency, gram, occ) order. A length filter
    * |len_a − len_b| ≤ d rides the join; exact `levenshtein`
    * verification on the deduped candidates makes the result exact.
    *
    * Completeness precondition: every string needs N ≥ q·d+1 grams
    * (len ≥ q·(d+1)) or its prefix is its whole gram set and the
    * overlap bound can reach 0 — silently missing pairs. Enforced
    * per-row with a raise_error fused into the scan (no dedicated
    * guard pass); null strings are excluded (no distance defined).
    *
    * Duplicate-dense corpora are the rule at scale (the sf0.1 part
    * table holds 20k rows over 64 distinct names), so the whole gram
    * pipeline runs on DISTINCT strings — identical rows collapse to
    * one representative before any gram explodes, and candidate cost
    * tracks the distinct-string census. Row-level pairs come back at
    * the end through output-bound equi-join expansions: same-string
    * groups emit their dist-0 pairs directly, verified distinct-string
    * pairs fan out to their member ids. (The row-level formulation
    * measured 119 s at sf0.1 — every ~300-member name group collided
    * in every gram bucket; the collapsed form is output-bound.)
    *
    * Scale shape: one distinct-string aggregate, gram machinery
    * (frequency agg, per-string ranking window, prefix equi-join on
    * q·d+1 rarest keys — the [[jaccardPairsComplete]] idiom) over
    * distinct strings only, one pair-dedup hash agg, levenshtein on
    * candidate string pairs, then output-bound expansion equi-joins.
    * Returns (id_a, id_b, dist). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, q: Int = 3): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    require(q >= 2, s"q-gram width must be >= 2: $q")
    val minLen = q * (maxDist + 1)
    val strs = df
      .filter(col(strCol).isNotNull)
      .select(col(idCol),
        when(length(col(strCol)) < minLen, raise_error(concat(
          lit(s"editDistancePairs requires strings of length >= $minLen" +
            s" (q=$q, maxDist=$maxDist; shorter strings break the" +
            " prefix filter's completeness); got: "), col(strCol))))
          .otherwise(col(strCol)).as("_s"))
    val reps = strs.groupBy(col("_s")).agg(min(col(idCol)).as("_rid"))
    val grams = reps
      .select(col("_rid"), length(col("_s")).as("_len"),
        posexplode(expr(
          s"transform(sequence(0, length(_s) - $q)," +
            s" i -> substring(_s, i + 1, $q))")).as(Seq("_pos", "_g")))
    // occurrence index: k-th copy of a gram only matches k-th copies
    val occW = Window.partitionBy(col("_rid"), col("_g"))
      .orderBy(col("_pos").asc)
    val keyed = grams.withColumn("_occ", row_number().over(occW))
    val freq = keyed.groupBy("_g").agg(count(lit(1)).as("_gf"))
    val prefW = Window.partitionBy(col("_rid"))
      .orderBy(col("_gf").asc, col("_g").asc, col("_occ").asc)
    val pref = keyed
      .join(freq, "_g")
      .withColumn("_rk", row_number().over(prefW))
      .filter(col("_rk") <= q * maxDist + 1)
      .select(col("_rid"), col("_g"), col("_occ"), col("_len"))
    val cand = pref.select(col("_rid").as("_ra"), col("_g"), col("_occ"),
        col("_len").as("_la"))
      .join(pref.select(col("_rid").as("_rb"), col("_g"), col("_occ"),
        col("_len").as("_lb")), Seq("_g", "_occ"))
      .filter(col("_ra") < col("_rb") &&
        abs(col("_la") - col("_lb")) <= maxDist)
      .groupBy("_ra", "_rb").agg(count(lit(1)).as("_shared"))
      .select("_ra", "_rb")
    // verified DISTINCT-string pairs (dist ≥ 1 by construction)
    val repPairs = cand
      .join(reps.select(col("_rid").as("_ra"), col("_s").as("_na")), "_ra")
      .join(reps.select(col("_rid").as("_rb"), col("_s").as("_nb")), "_rb")
      .withColumn("dist", levenshtein(col("_na"), col("_nb")))
      .filter(col("dist") <= maxDist)
      .select(col("_na"), col("_nb"), col("dist").cast("long").as("dist"))
    // expansion 1: identical strings → all within-group id pairs, dist 0
    val zero = strs.select(col(idCol).as("_ia"), col("_s"))
      .join(strs.select(col(idCol).as("_ib"), col("_s")), "_s")
      .filter(col("_ia") < col("_ib"))
      .select(col("_ia").as("id_a"), col("_ib").as("id_b"),
        lit(0L).as("dist"))
    // expansion 2: each verified string pair × its two member groups
    val cross = repPairs
      .join(strs.select(col(idCol).as("_ia"), col("_s").as("_na")), "_na")
      .join(strs.select(col(idCol).as("_ib"), col("_s").as("_nb")), "_nb")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("dist"))
    zero.unionByName(cross)
  }

  /** ROUGE-N overlap metrics over LSH candidate pairs — the eval
    * metric run as a corpus operator: clipped n-gram precision /
    * recall / F1 (Lin 2004) for every near-duplicate candidate pair,
    * the graded view the binary dedup verdicts collapse away
    * (summarization-style boilerplate, partial rewrites, and
    * template-with-slots pairs separate cleanly on P vs R asymmetry).
    *
    * For a pair (a, b) with per-document n-gram counts c_a, c_b:
    *   clip = Σ_g min(c_a(g), c_b(g))     (clipped overlap)
    *   P = clip / |a|,  R = clip / |b|,  F1 = 2·clip / (|a| + |b|)
    * where |·| is the document's total n-gram count. Scores are exact
    * integer micros (floor division). `a` is the lower id (the
    * candidate-pair orientation); swap P and R to flip the reference
    * direction. Candidate pairs with zero shared n-grams still emit
    * (clip = 0) — candidates never silently vanish.
    *
    * Scale design (100 TB): candidates come from the house MinHash+LSH
    * path (sub-quadratic, duplicate-density-bounded); the clip join
    * fans each pair out by ONE side's distinct n-grams only, keyed
    * (id, gram) — never a cross product; totals are doc-level
    * aggregates joined back.
    */
  def rougeOverCandidates(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 2, numHashes: Int = 16,
                          bands: Int = 4): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val cnt = shingleMultiset(df, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("_c"))
    val totals = cnt.groupBy(col(idCol)).agg(sum("_c").as("_tot"))
    val shMulti = shingleMultiset(df, idCol, textCol, 3)
    val sig = minHashSignatures(shMulti, idCol, numHashes)
    val cand = candidatePairs(lshBands(sig, idCol, numHashes, bands), idCol)
    val clip = cand
      .join(cnt.select(col(idCol).as("id_a"), col("shingle"),
        col("_c").as("_ca")), Seq("id_a"))
      .join(cnt.select(col(idCol).as("id_b"), col("shingle"),
        col("_c").as("_cb")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("_ca"), col("_cb"))).as("clip"))
    // totals join LEFT + zero-guarded divisions: with n > 3 a
    // candidate doc can carry trigrams (so LSH sees it) yet zero
    // n-grams — its pairs score 0, they don't divide by zero or vanish
    cand
      .join(clip, Seq("id_a", "id_b"), "left")
      .join(totals.select(col(idCol).as("id_a"), col("_tot").as("n_a")),
        Seq("id_a"), "left")
      .join(totals.select(col(idCol).as("id_b"), col("_tot").as("n_b")),
        Seq("id_b"), "left")
      .withColumn("clip", coalesce(col("clip"), lit(0L)))
      .withColumn("n_a", coalesce(col("n_a"), lit(0L)))
      .withColumn("n_b", coalesce(col("n_b"), lit(0L)))
      .select(col("id_a"), col("id_b"), col("clip"), col("n_a"),
        col("n_b"),
        when(col("n_a") > 0, expr("(clip * 1000000L) div n_a"))
          .otherwise(lit(0L)).as("p_micro"),
        when(col("n_b") > 0, expr("(clip * 1000000L) div n_b"))
          .otherwise(lit(0L)).as("r_micro"),
        when(col("n_a") + col("n_b") > 0,
          expr("(2L * clip * 1000000L) div (n_a + n_b)"))
          .otherwise(lit(0L)).as("f1_micro"))
      .orderBy("id_a", "id_b")
  }

  /** Cross-group content-overlap matrix — the corpus-audit question
    * "which sources leak into which": for every pair of groups, how
    * many distinct content keys (fingerprints, digests, urls — any
    * caller-computed key column) occur in BOTH. The classic use is
    * train-corpus provenance (CommonCrawl-vs-Wikipedia style overlap)
    * and pre-merge leakage checks between corpus slices.
    *
    * Output per unordered group pair (group_a < group_b) sharing ≥ 1
    * key: (group_a, group_b, n_shared, n_a, n_b, overlap_micro) where
    * n_a/n_b are the groups' distinct-key totals and overlap_micro =
    * floor(10⁶·n_shared / min(n_a, n_b)) — the overlap coefficient in
    * exact integer micros. Null keys and null groups are excluded.
    *
    * Scale design (100 TB): the corpus collapses FIRST to distinct
    * (key, group) — one map-side-combined aggregate; the pair
    * expansion is a key-equi self-join whose per-key fanout is bounded
    * by (#groups choose 2), never corpus-sized; group totals are a
    * groups-sized frame broadcast back onto the matrix.
    */
  def overlapMatrix(df: DataFrame, groupCol: String,
                    keyCol: String): DataFrame = {
    val kg = df
      .filter(col(keyCol).isNotNull && col(groupCol).isNotNull)
      .select(col(keyCol).as("_k"), col(groupCol).as("_g"))
      .distinct()
    val sizes = kg.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    val pairs = kg.as("a")
      .join(kg.as("b"),
        col("a._k") === col("b._k") && col("a._g") < col("b._g"))
      .groupBy(col("a._g").as("group_a"), col("b._g").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("_g").as("group_a"),
        col("_n").as("n_a"))), Seq("group_a"))
      .join(broadcast(sizes.select(col("_g").as("group_b"),
        col("_n").as("n_b"))), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("(n_shared * 1000000L) div least(n_a, n_b)")
          .as("overlap_micro"))
      .orderBy("group_a", "group_b")
  }

  /** Repeated fixed-length substring detection — the character-level
    * exact-duplication signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * pass): boilerplate, licenses, templated spam repeat VERBATIM
    * across documents at the character level even when whole-document
    * hashes differ.
    *
    * This is the bounded, engine-friendly form of the suffix-array
    * pass, with CONTENT-DEFINED sampling (the winnowing / Broder mod-p
    * idea): every position's k-gram is enumerated, but only grams whose
    * 48-bit digest ≡ 0 (mod `sampleMod`) survive to the shuffle.
    * Offset-stride sampling would be alignment-DEPENDENT — two
    * documents sharing a run sample different in-run offsets and never
    * emit the same gram — while a content-defined choice picks the
    * same grams in every document that contains them, wherever they
    * sit. A shared run of length L ≥ k is caught iff any of its
    * L − k + 1 grams is selected (expected hit for runs ⪆ sampleMod +
    * k chars; `sampleMod = 1` is the exhaustive check). Returns grams
    * occurring in ≥ `minDocs` distinct documents: (gram, n_docs,
    * n_occ), heaviest first (ties: gram ASC), top `topN`.
    *
    * Scale design (100 TB): per-row CPU is O(n_chars) narrow codegen'd
    * expressions; the sample filter sits directly on the generator
    * output, so the SHUFFLE carries ~1/sampleMod of the (gram, doc)
    * pairs, pre-aggregated map-side to distinct pairs; the distinct-doc
    * count is the second, gram-keyed aggregate (candidates-first: no
    * count-distinct buffering); the global cut is
    * TakeOrderedAndProject (per-partition top-N). Nothing driver-side.
    */
  def repeatedSubstrings(df: DataFrame, idCol: String, textCol: String,
                         k: Int, sampleMod: Int = 1, minDocs: Int = 2,
                         topN: Int = 100): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (a repeat needs 2 docs)")
    require(topN >= 1, "topN must be >= 1")
    val grams = df
      .select(col(idCol),
        explode(when(length(col(textCol)) >= k,
            sequence(lit(0), length(col(textCol)) - k, lit(1)))
          .otherwise(array().cast("array<int>"))).as("_p"),
        col(textCol))
      .select(col(idCol),
        expr(s"substring(`$textCol`, _p + 1, $k)").as("gram"))
    val sampled =
      if (sampleMod == 1) grams
      else grams.filter(
        graft.functions.VectorExpressions
          .md5SliceToLong(col("gram"), 1, 12)
          % sampleMod === 0)
    sampled
      .groupBy(col("gram"), col(idCol))
      .agg(count(lit(1)).as("_n"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"), sum("_n").as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(topN)
  }

  /** LSH recall AUDIT — turns the pipeline's "no recall premise" design
    * stance into a measured number. On a deterministic md5-hash-sampled
    * slice of the corpus (candidacy and Jaccard are both PAIRWISE
    * properties, so slice results are exact restrictions of corpus
    * results, not approximations of them):
    *   - ground truth: every qualifying pair by proof, via the
    *     prefix-filtered COMPLETE join ([[jaccardPairsComplete]]) —
    *     affordable because it runs on the slice, which is the whole
    *     reason to sample;
    *   - under test: the banded MinHash candidates
    *     ([[minHashCandidates]]) with the same shingle width;
    *   - output: per Jaccard-decile bucket (floor(j·10)), the number of
    *     true pairs, how many LSH surfaced, and recall in exact integer
    *     micros — the per-similarity-band recall curve that tells you
    *     whether the (numHashes, bands) choice hunts the duplicates you
    *     actually care about.
    *
    * 100 TB shape: the slice is a per-row hash cut (no shuffle); both
    * legs inherit their sub-quadratic shapes; the audit join is
    * pair-keyed on the true-pair frame (output-bound). Returns
    * (j_bucket, n_pairs, n_found, recall_micro). */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 16,
                     bands: Int = 4, threshold: Double = 0.5,
                     samplePct: Int = 100): DataFrame = {
    require(samplePct > 0 && samplePct <= 100,
      s"samplePct must be in (0,100]: $samplePct")
    val slice =
      if (samplePct >= 100) df
      else df.filter(Curation.hashBucket(col(idCol)) < samplePct)
    val exact = jaccardPairsComplete(slice, idCol, textCol, shingleN,
      threshold)
    val cand = minHashCandidates(slice, idCol, textCol, shingleN,
      numHashes, bands)
    exact.join(cand.withColumn("_found", lit(1L)), Seq("id_a", "id_b"),
        "left")
      .groupBy(floor(col("jaccard") * 10).cast("int").as("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("_found"), lit(0L))).as("n_found"))
      .withColumn("recall_micro", expr("n_found * 1000000 div n_pairs"))
      .orderBy("j_bucket")
  }

  /** LSH parameter planner: for every (bands, rowsPerBand)
    * factorization of `numHashes`, the false-positive and
    * false-negative mass of the banding collision curve
    * P(s) = 1 − (1 − s^r)^b against a target Jaccard `threshold` —
    * the design table that picks b×r BEFORE burning a corpus pass on
    * the wrong index shape ([[minHashSignatures]]/[[lshCandidates]]
    * consume the winner). FP mass = Σ_{s<τ} P(s), FN mass =
    * Σ_{s>τ} (1 − P(s)), midpoint grid of `gridPoints` similarity
    * levels (s = (2i+1)/(2·gridPoints) — never exactly τ for the
    * default τ = 0.5).
    *
    * Exactness across engines: NO `pow` anywhere — libm pow is not
    * correctly rounded and differs across runtimes; s^r and (1−s^r)^b
    * are left-associative repeated IEEE multiplications (identical
    * bit patterns in any IEEE-754 engine), the grid is built from
    * exact integer arithmetic and one correctly-rounded division, and
    * each point is fixed to integer micros (floor(p·10⁶ + 0.5)) BEFORE
    * summation, so the sums are exact integer math. The frame is
    * (divisors × grid)-sized — computation, not data; it runs
    * identically at any SF. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
              threshold: Double, gridPoints: Int = 100): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4096,
      s"numHashes must be in [1, 4096], got $numHashes")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    require(gridPoints >= 10 && gridPoints <= 100000,
      s"gridPoints must be in [10, 100000], got $gridPoints")
    import spark.implicits._
    val f = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .toDF("bands", "rows_per_band")
    val grid = spark.range(gridPoints)
      .select(((col("id") * 2 + 1).cast("double") /
        lit(2.0 * gridPoints)).as("s"))
    def powByRepeatedMul(base: Column, n: Column): Column =
      aggregate(sequence(lit(1), n), lit(1.0), (acc, _) => acc * base)
    val curve = broadcast(f).crossJoin(grid)
      .withColumn("sr", powByRepeatedMul(col("s"), col("rows_per_band")))
      .withColumn("p_micro",
        floor((lit(1.0) - powByRepeatedMul(lit(1.0) - col("sr"), col("bands")))
          * 1000000.0 + 0.5).cast("long"))
    curve.groupBy("bands", "rows_per_band")
      .agg(
        sum(when(col("s") < threshold, col("p_micro")).otherwise(0L))
          .as("fp_micro"),
        sum(when(col("s") > threshold, lit(1000000L) - col("p_micro"))
          .otherwise(0L)).as("fn_micro"))
      .withColumn("cost_micro", col("fp_micro") + col("fn_micro"))
      .orderBy("bands")
  }

  /** Fuzzy (near-dup) decontamination report: for every corpus
    * document, how many BENCHMARK documents it near-duplicates and how
    * strongly — the cross-frame pass exact-overlap decontamination
    * ([[graft.operators.Curation.decontaminate]], shared n-grams)
    * misses when the contamination is a paraphrase or a
    * partially-edited copy. Candidates come from MinHash+LSH banding
    * ACROSS the two frames (signatures per side, band-bucket
    * equi-join — never corpus × benchmark), then exact shingle-set
    * Jaccard verifies each candidate; a pair counts at
    * `j_micro ≥ thresholdMicros` where j_micro = ⌊10⁶·|∩|/|∪|⌋
    * (integer floor division — exact in any engine, no float
    * threshold boundary).
    *
    * Returns one row per corpus document (idCol, n_bench_matches,
    * max_j_micro, flagged) — the anti-join to actually drop flagged
    * rows is one `filter(!flagged)` away, and keeping the report
    * separate makes the drop auditable. Shape at scale: the band join
    * cardinality tracks near-dup density; verification touches
    * candidates × document shingles only. */
  def fuzzyDecontaminationReport(df: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, benchIdCol: String,
      benchTextCol: String, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, thresholdMicros: Long = 500000L): DataFrame = {
    require(thresholdMicros >= 0 && thresholdMicros <= 1000000L,
      s"thresholdMicros must be in [0, 1e6], got $thresholdMicros")
    val shC = shingleMultiset(df, idCol, textCol, shingleN)
    val shB = shingleMultiset(
      benchmark.select(col(benchIdCol), col(benchTextCol)),
      benchIdCol, benchTextCol, shingleN)
    val bandsC = lshBands(minHashSignatures(shC, idCol, numHashes),
      idCol, numHashes, bands)
    val bandsB = lshBands(minHashSignatures(shB, benchIdCol, numHashes),
      benchIdCol, numHashes, bands)
    val cand = bandsC
      .select(col(idCol).as("id_a"), col("band"), col("sig"))
      .join(bandsB.select(col(benchIdCol).as("id_b"), col("band"),
        col("sig")), Seq("band", "sig"))
      .select("id_a", "id_b").distinct()
    val setC = shC.distinct()
    val setB = shB.distinct()
    val inter = cand
      .join(setC.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(setB.select(col(benchIdCol).as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val szC = setC.groupBy(col(idCol).as("id_a"))
      .agg(count(lit(1)).as("sz_a"))
    val szB = setB.groupBy(col(benchIdCol).as("id_b"))
      .agg(count(lit(1)).as("sz_b"))
    val perDoc = inter.join(szC, "id_a").join(szB, "id_b")
      .withColumn("j_micro",
        expr("(inter * 1000000) div (sz_a + sz_b - inter)"))
      .filter(col("j_micro") >= thresholdMicros)
      .groupBy("id_a")
      .agg(count(lit(1)).as("n_bench_matches"),
        max("j_micro").as("max_j_micro"))
      .withColumnRenamed("id_a", idCol)
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        coalesce(col("max_j_micro"), lit(0L)).as("max_j_micro"),
        col("n_bench_matches").isNotNull.as("flagged"))
  }

  /** Content-defined chunking (CDC) dedup — the insertion-robust
    * sibling of the fixed-block sub-document dedup: chunk boundaries
    * are TOKENS whose md5 bucket hits 0 mod `avgChunkTokens`, so a
    * boundary is a property of the CONTENT, not the position. Insert a
    * sentence into a shared boilerplate run and fixed blocks all shift
    * (every block re-hashes as new); CDC boundaries downstream of the
    * insertion land on the same tokens, the same chunks re-form, and
    * the duplicate mass still collapses — the rsync/LBFS argument,
    * applied to corpus text.
    *
    * A chunk is KEPT only at its first corpus occurrence in the total
    * order (doc id, chunk index) — deterministic under any
    * partitioning. Returns per document: (idCol, n_chunks, n_kept,
    * n_dropped, n_tokens_kept), ordered by id.
    *
    * Shape at 100 TB: token explode is narrow; the chunk index is a
    * doc-keyed window (key-partitioned, never SinglePartition); chunk
    * digests hash-aggregate; first-occurrence is one min-struct
    * aggregate per digest joined back on the digest — no pair space
    * anywhere. */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
                    avgChunkTokens: Int = 8,
                    maxChunkTokens: Int = 64): DataFrame = {
    val reserved = Set("n_chunks", "n_kept", "n_dropped", "n_tokens_kept")
    require(!reserved.contains(idCol),
      s"cdcChunkDedup: idCol `$idCol` collides with an output column")
    val chunks = cdcChunks(df, idCol, textCol, avgChunkTokens,
      maxChunkTokens)
    val first = chunks.groupBy(col("_d"))
      .agg(min(struct(col("_id"), col("_chunk"))).as("_first"))
    val marked = chunks.join(first, Seq("_d"))
      .withColumn("_kept",
        col("_id") === col("_first._id") &&
          col("_chunk") === col("_first._chunk"))
    cdcReport(df, idCol, marked)
  }

  /** The CDC chunk frame behind [[cdcChunkDedup]]: one row per
    * (document, chunk) with the chunk's token count and content
    * digest. Columns (_id, _chunk: struct(_cchunk, _sub), _ctoks, _d). */
  private def cdcChunks(df: DataFrame, idCol: String,
                        textCol: String, avgChunkTokens: Int,
                        maxChunkTokens: Int): DataFrame = {
    require(avgChunkTokens >= 2 && avgChunkTokens <= 65536,
      s"avgChunkTokens must be in [2, 65536]: $avgChunkTokens")
    require(maxChunkTokens >= avgChunkTokens && maxChunkTokens <= 65536,
      s"maxChunkTokens ($maxChunkTokens) must be in " +
        s"[$avgChunkTokens, 65536]")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol).as("_id"), tokens(col(textCol)).as("_toks"))
      .select(col("_id"), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
    // boundary ⇔ md5 bucket of the TOKEN ≡ 0 (mod avg) — the shared
    // 4-hex-digit bucket arithmetic every oracle replays
    val boundary = (graft.operators.Curation.hashBucket16(col("_tok"))
      % avgChunkTokens === 0).cast("long")
    val byDoc = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    // HARD cap (the production-CDC max-chunk rule, and the memory
    // bound that keeps the reconstruction group small): a boundary-
    // free run splits every maxChunkTokens tokens, POSITIONED RELATIVE
    // TO ITS CONTENT CHUNK'S START — still insertion-robust downstream
    // of each content boundary
    val withChunk = toks
      .withColumn("_cchunk", sum(boundary).over(byDoc))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_id"), col("_cchunk"))
          .orderBy(col("_pos"))))
      .withColumn("_chunk",
        struct(col("_cchunk"),
          expr(s"(_rn - 1) div $maxChunkTokens").as("_sub")))
    withChunk.groupBy(col("_id"), col("_chunk"))
      .agg(count(lit(1)).as("_ctoks"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("_pos"), col("_tok")))),
          x => x.getField("_tok")), " ")).as("_d"))
  }

  /** [[cdcChunkDedup]]'s per-document survival report over
    * kept-marked chunks. `marked` needs (_id, _ctoks, _kept); `ids`
    * restores zero-chunk documents. */
  private def cdcReport(ids: DataFrame, idCol: String,
                        marked: DataFrame): DataFrame = {
    val perDoc = marked.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("_kept"), lit(1))).as("n_kept"),
        count(when(!col("_kept"), lit(1))).as("n_dropped"),
        coalesce(sum(when(col("_kept"), col("_ctoks"))), lit(0L))
          .as("n_tokens_kept"))
    ids.select(col(idCol)).distinct()
      .join(perDoc.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
      .orderBy(idCol)
  }

  /** TEMPLATE detection — near-exact dedup for documents that differ
    * only in numbers (timestamps, prices, ids, counters): digest the
    * text with every digit RUN collapsed to `#` (after lowercasing),
    * and group. Boilerplate news/listing/log templates — exact dedup's
    * largest blind spot, since every instance has a fresh number —
    * collapse to one group each. Returns one row per template with
    * MORE THAN ONE instance: (first_id — the group's min id, n_docs,
    * n_distinct_raw — how many distinct RAW texts the template
    * covers), ordered by first_id.
    *
    * One digest hash aggregate; group count and raw-distinct count in
    * the same pass. Null texts carry no content and are excluded. */
  def templateGroups(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val norm = md5(regexp_replace(lower(col(textCol)), "[0-9]+", "#"))
    df.filter(col(textCol).isNotNull)
      .groupBy(norm.as("_t"))
      .agg(min(col(idCol)).as("first_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col(textCol)).as("n_distinct_raw"))
      .filter(col("n_docs") > 1)
      .select("first_id", "n_docs", "n_distinct_raw")
      .orderBy("first_id")
  }

  /** Cross-source exact-duplicate MATRIX — the provenance-overlap
    * census a multi-source corpus audit starts with: for every source
    * pair (a ≤ b), how many exact-duplicate document PAIRS straddle
    * them? A crawl that largely restates another source shows up as a
    * heavy off-diagonal cell; the diagonal is each source's internal
    * duplication. Null texts carry no content and are excluded (the
    * q138 corpus-card convention).
    *
    * Shape at 100 TB: one digest hash aggregate keyed on
    * (md5(text), source) — duplicate-group-sized, tiny on real data —
    * then a digest-keyed self-equi-join of GROUP COUNTS (never
    * documents) and one matrix aggregate: cross cells sum nₐ·n_b,
    * the diagonal sums n·(n−1)/2. Returns (source_a, source_b,
    * n_dup_pairs) for cells with at least one pair, ordered. */
  def crossSourceDupMatrix(df: DataFrame, textCol: String,
                           sourceCol: String): DataFrame = {
    val grp = df.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("_d"), col(sourceCol).as("_src"))
      .agg(count(lit(1)).as("_n"))
    val cross = grp.select(col("_d"), col("_src").as("source_a"),
        col("_n").as("_na"))
      .join(grp.select(col("_d"), col("_src").as("source_b"),
        col("_n").as("_nb")), Seq("_d"))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (col("_na") * col("_nb")).as("_pairs"))
    val diag = grp.select(col("_src").as("source_a"),
      col("_src").as("source_b"),
      expr("_n * (_n - 1) div 2").as("_pairs")) // integer div — exact
    cross.unionByName(diag)
      .groupBy("source_a", "source_b")
      .agg(sum("_pairs").as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
      .orderBy("source_a", "source_b")
  }

  /** C4-style duplicate sentence-SPAN census (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring
    * more than once in the data set") — the sub-document dedup level
    * between [[crossSourceDupMatrix]]'s whole-document digests and the
    * line-level boilerplate strip: exact duplication of `span`
    * consecutive normalized sentences anywhere in the corpus.
    *
    * Sentence rule (deterministic, Java∩RE2 so a SQL oracle replays
    * it): split on `[.!?]+` runs followed by whitespace or
    * end-of-text, trim, drop empties, normalize by lowercase +
    * whitespace squeeze. Spans are the n−span+1 sliding windows over
    * a document's sentence sequence, keyed by the md5 of the
    * chr(1)-joined window (16-byte digests shuffle, never text — the
    * boilerplateStrip convention). Documents with < span sentences
    * carry no span and report zeros.
    *
    * Shape at 100 TB: one explode to the span frame (materialized
    * once — localCheckpoint, the mutualInfo convention — because the
    * digest census and the per-doc rejoin both consume it), one
    * digest hash aggregate, one digest equi-join back, one per-doc
    * aggregate. No windows, no collect; span work per document is
    * linear in its sentence count (each sentence enters ≤ span
    * windows).
    *
    * Returns one row per input document: (idCol, n_sentences,
    * n_spans, n_dup_spans — spans whose digest occurs ≥ 2 times
    * corpus-wide (the doc's own copy counts toward the 2),
    * dup_span_micro — floor micros over n_spans), ordered by idCol. */
  private def spanGuard(idCol: String, textCol: String,
                        span: Int, who: String): Unit = {
    require(span >= 1 && span <= 16, s"span must be in [1, 16]: $span")
    val reserved = Set("_sents", "_ns", "_dig", "_cnt", "n_sentences",
      "n_spans", "n_dup_spans", "dup_span_micro",
      "n_store_dup_spans", "is_flagged",
      "_i", "_idx", "_cov", "_p", "_s", "_sp",
      "n_sentences_removed", "chars_removed", "text_cleaned")
    val clash = Seq(idCol, textCol).filter(reserved)
    require(clash.isEmpty,
      s"$who reserved column names in use: ${clash.mkString(", ")}")
  }

  /** (idCol, _sents, _ns) normalized sentence frame — the shared
    * front half of [[sentenceSpanDedup]] and
    * [[spanDedupAgainstStore]] (sentence rule documented there). */
  private def sentenceFrame(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    // normalized sentence array: split on terminal-punctuation runs
    // (the trailing split cell after "end." is dropped as empty)
    val sentExpr = expr(
      s"""filter(transform(split(`$textCol`, '[.!?]+(\\\\s+|$$)'),
            x -> regexp_replace(trim(lower(x)), '\\\\s+', ' ')),
          x -> x != '')""")
    df.select(col(idCol), sentExpr.as("_sents"))
      .withColumn("_ns", size(col("_sents")).cast("long"))
  }

  /** (idCol, _ns, _dig) exploded span-digest frame over a sentence
    * frame (chr(1)-joined md5 windows — see [[sentenceSpanDedup]]). */
  private def spanFrame(docs: DataFrame, idCol: String,
                        span: Int): DataFrame =
    docs.filter(col("_ns") >= span)
      .select(col(idCol), col("_ns"), explode(expr(
        s"transform(sequence(1, int(_ns) - ${span - 1}), " +
          s"i -> md5(concat_ws(chr(1), slice(_sents, i, $span))))"))
        .as("_dig"))

  def sentenceSpanDedup(df: DataFrame, idCol: String, textCol: String,
                        span: Int = 3): DataFrame = {
    spanGuard(idCol, textCol, span, "sentenceSpanDedup")
    val docs = sentenceFrame(df, idCol, textCol)
    val spans = spanFrame(docs, idCol, span)
      .localCheckpoint()
    val census = spans.groupBy("_dig").agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= 2)
      .select(col("_dig"), lit(true).as("_dup"))
    val perDoc = spans.join(census, Seq("_dig"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(when(col("_dup"), 1L)), lit(0L)).as("n_dup_spans"))
    docs.select(col(idCol), col("_ns").as("n_sentences"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_sentences"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_micro",
        expr("n_dup_spans * 1000000L div greatest(n_spans, 1L)"))
      .orderBy(idCol)
  }

  /** Incremental sentence-span gate against a persisted span-digest
    * STORE — [[sentenceSpanDedup]]'s cross-batch form, and the C4
    * member of the incremental-store family ([[cdcChunkDedup]]
    * digests, [[winnowDedupAgainstStore]] fingerprints): a new
    * document is flagged when ≥ `minDup` of its spans already exist
    * in the accepted corpus. The store holds (idCol, span digest)
    * rows — what a pipeline appends back for accepted docs (the
    * digests are already computed here; store text is never
    * re-sentence-split).
    *
    * Shape: batch spans explode once; the store side collapses to
    * DISTINCT digests before the equi-join (a digest present
    * thousands of times in the store must count once per batch span,
    * not fan out). Returns one row per batch document: (idCol,
    * n_sentences, n_spans, n_store_dup_spans, dup_span_micro,
    * is_flagged), ordered by idCol. */
  def spanDedupAgainstStore(batch: DataFrame, idCol: String,
                            textCol: String, storeSpans: DataFrame,
                            span: Int = 3, minDup: Int = 1): DataFrame = {
    spanGuard(idCol, textCol, span, "spanDedupAgainstStore")
    require(minDup >= 1, s"minDup must be >= 1: $minDup")
    require(storeSpans.columns.contains("_dig"),
      "storeSpans must carry the `_dig` span-digest column " +
        "(one row per accepted span: idCol, _dig = md5 of the span's " +
        "sentences, as sentenceSpanDigests writes it)")
    val docs = sentenceFrame(batch, idCol, textCol)
    val spans = spanFrame(docs, idCol, span)
    val storeDigs = storeSpans.select(col("_dig")).distinct()
      .withColumn("_dup", lit(true))
    val perDoc = spans.join(storeDigs, Seq("_dig"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(when(col("_dup"), 1L)), lit(0L))
          .as("n_store_dup_spans"))
    docs.select(col(idCol), col("_ns").as("n_sentences"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_sentences"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_store_dup_spans"), lit(0L))
          .as("n_store_dup_spans"))
      .withColumn("dup_span_micro",
        expr("n_store_dup_spans * 1000000L div greatest(n_spans, 1L)"))
      .withColumn("is_flagged", col("n_store_dup_spans") >= minDup)
      .orderBy(idCol)
  }

  /** Duplicated-span REMOVAL — the rewrite step the span CENSUS ops
    * ([[sentenceSpanDedup]], [[repeatedSubstrings]]) stop short of:
    * the Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") ExactSubstr deliverable at sentence granularity.
    * A span of `span` consecutive normalized sentences whose digest
    * occurs ≥ `minCount` times CORPUS-WIDE (within-doc repetition
    * counts, the [[sentenceSpanDedup]] census rule) marks every
    * sentence it covers for excision; the document is rebuilt from
    * the surviving sentences. Removal policy is REMOVE-ALL (every
    * occurrence goes — the boilerplate-strip convention): keep-one
    * needs a global occurrence order and is a composition
    * (remove-all + reinsert from [[exactDupGroups]]' canonical copy)
    * rather than a primitive.
    *
    * `text_cleaned` is the NORMALIZED rewrite — surviving sentences
    * (lowered, whitespace-squeezed, terminal punctuation consumed by
    * the split) joined by ". " in original order; `chars_removed`
    * counts sentence characters only (separator-free), so engines
    * can't disagree about reconstruction whitespace. Docs shorter
    * than `span` sentences pass through untouched by construction.
    *
    * Scale shape: one sentence-split pass; span digests explode with
    * their START INDEX once and checkpoint (two consumers — the
    * digest census and the dup-span join); duplicated digests are a
    * census-sized semi-join side; covered indices explode only from
    * DUP spans (cost tracks duplication density, not corpus size);
    * the rebuild is one per-doc hash aggregate whose collect_list is
    * doc-sized. No pairwise comparison, no window, no sort outside
    * the per-doc array_sort. Returns one row per document: (idCol,
    * n_sentences, n_dup_spans, n_sentences_removed, chars_removed,
    * text_cleaned), ordered by idCol. */
  def duplicatedSpanRemove(df: DataFrame, idCol: String,
                           textCol: String, span: Int = 3,
                           minCount: Long = 2L): DataFrame = {
    spanGuard(idCol, textCol, span, "duplicatedSpanRemove")
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    val docs = sentenceFrame(df, idCol, textCol)
    // span digests WITH their 1-based start index — the census form
    // of [[spanFrame]] plus the position the excision needs
    val spans = docs.filter(col("_ns") >= span)
      .select(col(idCol), explode(expr(
        s"""transform(sequence(1, int(_ns) - ${span - 1}),
            i -> struct(i AS _i,
              md5(concat_ws(chr(1), slice(_sents, i, $span))) AS _dig))"""))
        .as("_sp"))
      .select(col(idCol), col("_sp._i").as("_i"),
        col("_sp._dig").as("_dig"))
      .localCheckpoint()
    val dupDigs = spans.groupBy("_dig").agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= minCount).select("_dig")
    val dupSpans = spans.join(dupDigs, Seq("_dig"))
      .select(col(idCol), col("_i"))
      .localCheckpoint()
    val covered = dupSpans
      .select(col(idCol),
        explode(expr(s"sequence(_i, _i + ${span - 1})")).as("_idx"))
      .distinct()
      .withColumn("_cov", lit(true))
    val perDocDup = dupSpans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"))
    val sents = docs
      .select(col(idCol), posexplode(col("_sents")).as(Seq("_p", "_s")))
      .withColumn("_idx", col("_p") + 1)
    val keptAgg = sents
      .join(covered, Seq(idCol, "_idx"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(length(col("_s")).cast("long")).as("_chars_all"),
        coalesce(sum(when(col("_cov"),
          length(col("_s")).cast("long"))), lit(0L)).as("_chars_rm"),
        coalesce(sum(when(col("_cov"), 1L)), lit(0L))
          .as("n_sentences_removed"),
        array_join(transform(
          array_sort(collect_list(
            when(col("_cov").isNull, struct(col("_idx"), col("_s"))))),
          x => x.getField("_s")), ". ").as("text_cleaned"))
    docs.select(col(idCol), col("_ns").as("n_sentences"))
      .join(keptAgg, Seq(idCol), "left")
      .join(perDocDup, Seq(idCol), "left")
      .select(col(idCol), col("n_sentences"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_sentences_removed"), lit(0L))
          .as("n_sentences_removed"),
        coalesce(col("_chars_rm"), lit(0L)).as("chars_removed"),
        coalesce(col("text_cleaned"), lit("")).as("text_cleaned"))
      .orderBy(idCol)
  }

  /** The span-digest frame for a batch of accepted documents — the
    * rows a pipeline appends to the [[spanDedupAgainstStore]] store:
    * (idCol, _dig). */
  def sentenceSpanDigests(df: DataFrame, idCol: String,
                          textCol: String, span: Int = 3): DataFrame = {
    spanGuard(idCol, textCol, span, "sentenceSpanDigests")
    spanFrame(sentenceFrame(df, idCol, textCol), idCol, span)
      .select(col(idCol), col("_dig"))
  }
}
