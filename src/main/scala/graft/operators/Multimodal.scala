package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The Spark-side architecture is real — schema, partition-preserving
  * batch processing, column pruning (metadata queries never touch the
  * payload bytes thanks to Parquet column pruning) — while the actual
  * media codecs are STUBBED with deterministic fakes (this container has
  * no image/audio libraries). Swap [[decodeStub]]'s body for a real
  * decoder (JNI/ffmpeg/javacv) without touching any call site: the
  * batch shape (iterator-of-rows per partition, mirroring a Pandas-UDF
  * `mapInPandas` batch) and the output schema are the contract.
  */
object Multimodal {

  /** One media row: payload is the opaque bytes; media_type is a MIME
    * string; meta carries source-side metadata. */
  final case class MediaRow(media_id: Long, media_type: String,
                            payload: Array[Byte])

  /** Extracted features — the decode stage's output contract. */
  final case class MediaFeatures(media_id: Long, media_type: String,
                                 n_bytes: Int, width: Int, height: Int,
                                 duration_ms: Int, checksum: String)

  /** Wrap any table into a media table with a deterministic fake payload
    * (md5-derived bytes) — stands in for reading real image/audio blobs.
    * Payload generation is a pure column expression, so it distributes
    * and codegen-compiles like a real binary source column. */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      // pmod, not %: Spark % yields negative remainders for negative
      // ids (element_at index 0 throws; -1 wraps from the array end)
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("media_type"),
      // 32 deterministic bytes derived from the content.
      unhex(concat(md5(col(textCol)), md5(reverse(col(textCol))))).as("payload"))

  /** Ingest-side metadata extraction: the columns a media WRITE should
    * persist alongside the payload (size, magic prefix, content digest),
    * computed from the blob exactly once. At 100 TB the blob column is
    * the table — every later metadata query that recomputes
    * `length(payload)` re-reads the whole corpus — so the write path
    * stores these and [[mediaMeta]] projects them WITHOUT touching the
    * payload (Parquet column pruning then skips the blob entirely;
    * plan-asserted in MultimodalSpec). */
  def withStoredMeta(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("magic", substring(hex(col("payload")), 1, 8))
      .withColumn("hex_checksum", md5(lower(hex(col("payload")))))

  /** Metadata-only pass. When the ingest stored the metadata columns
    * ([[withStoredMeta]]), they are PROJECTED and the payload is never
    * referenced — the scan prunes the blob column, which is the
    * difference between a metadata query and a full-corpus read at
    * 100 TB. Tables without stored metadata (e.g. the q25 gate's
    * in-memory synthetic frame) fall back to computing each column from
    * the payload — same values either way, pure expressions, no UDF.
    *
    * The digest column is named `hex_checksum` because it is md5 over the
    * LOWERCASE-HEX rendering of the payload, not over the raw bytes — it
    * will NOT match an RFC-1321 md5-of-bytes digest computed elsewhere.
    * Rationale: md5-of-binary is not expressible in ANSI SQL (DuckDB's
    * md5 only accepts VARCHAR), and a content digest only needs to be
    * injective + reproducible — hex rendering is both, so the same
    * definition runs verbatim in the oracle (gate query q25 calls this
    * operator directly). */
  def mediaMeta(media: DataFrame): DataFrame = {
    val stored = media.columns.toSet
    def colOr(name: String, compute: => org.apache.spark.sql.Column) =
      if (stored(name)) col(name) else compute.as(name)
    media.select(
      col("media_id"), col("media_type"),
      colOr("n_bytes", length(col("payload"))),
      colOr("magic", substring(hex(col("payload")), 1, 8)),
      colOr("hex_checksum", md5(lower(hex(col("payload"))))))
  }

  /** A codec turns one media row into its extracted features. Must be
    * serializable (it ships to executors inside the mapPartitions
    * closure) — a top-level function value or object method reference. */
  type Codec = MediaRow => MediaFeatures

  /** STUB codec: deterministic fake that "decodes" width/height/duration
    * from payload bytes (this container has no image/audio libraries).
    * The arithmetic is reproducible in ANSI SQL, so gate query q42
    * oracle-checks the whole decode path end to end. */
  val stubCodec: Codec = { r =>
    // ---- STUB: deterministic fake decode (no media libs here) ----
    val b = r.payload
    def u(i: Int): Int = b(i % b.length) & 0xff
    val (w, h, d) = r.media_type match {
      case "image/png" => (64 + u(0) * 8, 64 + u(1) * 8, 0)
      case "audio/wav" => (0, 0, 1000 + u(2) * 500)
      case _           => (320 + u(0) * 4, 240 + u(1) * 4, 2000 + u(3) * 250)
    }
    // ---- end STUB ----
    MediaFeatures(r.media_id, r.media_type, b.length, w, h, d,
      b.map("%02x".format(_)).mkString)
  }

  /** Decode + feature extraction over an arbitrary `codec` (defaults to
    * the [[stubCodec]]; pass a real JNI/ffmpeg/javacv decoder WITHOUT
    * editing this file — the round-2 verdict's swap-in seam). The
    * mapPartitions shape is the real contract — one iterator per
    * partition (the JVM analogue of a `mapInPandas` batch), partitioning
    * preserved, constant memory. */
  def decode(spark: SparkSession, media: DataFrame,
             codec: Codec = stubCodec): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "media_type", "payload").as[MediaRow]
      .mapPartitions(rows => rows.map(codec))
  }

  /** Back-compat name for [[decode]] with the stub codec. */
  def decodeStub(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] =
    decode(spark, media)

  /** Resize plan over decoded features: target box fit (preserve aspect
    * ratio, never upscale) computed as pure per-row expressions — the
    * metadata half of an image/video resize stage. The actual pixel
    * resample belongs in a [[Codec]] (same swap-in seam as decode; this
    * container has no image libs), but the geometry — which is what
    * downstream batching/packing needs — is computed in INTEGER
    * arithmetic so the binding edge lands exactly on the target (a
    * floor over a float scale can undershoot the box by a pixel:
    * floor(300 · round(256/300, 6)) = 255). The binding axis is decided
    * by comparing width·targetH vs height·targetW (exact in longs); the
    * binding edge gets the full target extent, the other edge
    * floor-divides. Audio rows (width 0) pass through unscaled.
    * `scale` is the display ratio of the binding axis (6 dp).
    * Returns the input plus (scale, out_width, out_height). */
  def resizePlan(features: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0,
      s"target box must be positive: ${targetW}x$targetH")
    val w = col("width").cast("long")
    val h = col("height").cast("long")
    val visual = w > 0 && h > 0
    val fits = w <= targetW && h <= targetH
    // wider-than-target aspect ⇔ width is the binding axis
    val widthBinds = w * targetH >= h * targetW
    features
      .withColumn("scale",
        when(!visual || fits, 1.0)
          .when(widthBinds,
            round(lit(targetW).cast("double") / w.cast("double"), 6))
          .otherwise(
            round(lit(targetH).cast("double") / h.cast("double"), 6)))
      .withColumn("out_width",
        when(!visual || fits, col("width"))
          .when(widthBinds, lit(targetW))
          // floor of the double quotient is the exact integer div here:
          // operands are exact in double and the smallest nonzero
          // remainder fraction (1/h ≥ 1e-6) dwarfs double rounding
          .otherwise(floor(w * targetH / h).cast("int")))
      .withColumn("out_height",
        when(!visual || fits, col("height"))
          .when(widthBinds, floor(h * targetW / w).cast("int"))
          .otherwise(lit(targetH)))
  }

  /** Frame sampling: slice `n` fixed-offset byte windows out of each
    * payload (stand-in for video frame extraction). Pure expression —
    * produces (media_id, frame_idx, frame_bytes). */
  /** Fixed-stride segmentation plan over decoded duration metadata —
    * the audio/video chunking step (ASR windows, CLIP-per-segment,
    * VAD-free diarization prep) expressed as pure integer arithmetic
    * on `duration_ms`: segments start at i·hopMs, span winMs (clipped
    * to the media's end), and a final partial window is kept only when
    * it covers ≥ minMs. The decode stays behind the stub-codec seam
    * ([[decode]]); the PLAN — boundaries, counts, clipping — is real
    * and oracle-checked, exactly the [[resizePlan]] contract for the
    * time axis. Untimed media (duration < minMs, e.g. images at 0)
    * produce no segments.
    *
    * Scale shape: one filter + one sequence-explode — no shuffle at
    * all; output rows = Σ ⌈(duration−minMs)/hopMs⌉+1, the segment
    * spine downstream per-segment decoders consume. Returns
    * (media_id, seg_idx, start_ms, end_ms). */
  def segmentPlan(features: DataFrame, winMs: Int, hopMs: Int,
                  minMs: Int = 1): DataFrame = {
    require(winMs > 0, s"winMs must be positive: $winMs")
    require(hopMs > 0, s"hopMs must be positive: $hopMs")
    require(minMs >= 1 && minMs <= winMs,
      s"minMs must be in [1, winMs=$winMs]: $minMs")
    val dur = col("duration_ms").cast("long")
    features.filter(dur >= minMs)
      .select(col("media_id"), dur.as("_dur"),
        explode(sequence(lit(0L),
          expr(s"(CAST(duration_ms AS BIGINT) - $minMs) div $hopMs")))
          .as("seg_idx"))
      .select(col("media_id"), col("seg_idx").cast("int").as("seg_idx"),
        (col("seg_idx").cast("long") * hopMs).as("start_ms"),
        least(col("seg_idx").cast("long") * hopMs + winMs, col("_dur"))
          .as("end_ms"))
  }

  /** ViT patch-grid plan — the vision-token budgeter between
    * [[resizePlan]] (pixel box) and sequence packing (token box): for
    * each visual media's decoded (width, height), the `patch`-sized
    * grid a ViT-style encoder would cut — ⌈w/P⌉ × ⌈h/P⌉ patches with
    * right/bottom padding — and, when that grid exceeds
    * `maxPatches`, the number of 2× DOWNSCALE HALVINGS needed until
    * it fits (halving is the resolution ladder multi-crop encoders
    * actually walk; a fractional scale factor would be √-irrational).
    * Halvings are found by an integer comparison ladder (the
    * floorLog2 idiom — no doubles, engine-portable), capped at 12
    * (a 4096× reduction; anything still over budget at that point is
    * reported as 12 with fits_after=false). Non-visual media
    * (width/height 0) carry no plan and are filtered out.
    *
    * One codegen'd map pass, no shuffle. Returns (media_id, width,
    * height, n_x, n_y, n_patches, pad_w, pad_h, halvings,
    * fits_after), ordered by media_id. */
  def patchGridPlan(features: DataFrame, patch: Int,
                    maxPatches: Long): DataFrame = {
    require(patch >= 1, s"patch must be positive: $patch")
    require(maxPatches >= 1, s"maxPatches must be positive: $maxPatches")
    def grid(wExpr: String): String =
      s"((($wExpr) + ${patch - 1}) div $patch)"
    def patchesAt(k: Int): String = {
      // ceil(ceil(w/2^k)/P) * ceil(ceil(h/2^k)/P), all integer
      val w = s"((CAST(width AS BIGINT) + ${(1L << k) - 1}) div ${1L << k})"
      val h = s"((CAST(height AS BIGINT) + ${(1L << k) - 1}) div ${1L << k})"
      s"(${grid(w)} * ${grid(h)})"
    }
    val halvings = (0 to 12).map(k =>
      s"WHEN ${patchesAt(k)} <= ${maxPatches}L THEN $k")
      .mkString("CASE ", " ", " ELSE 12 END")
    features
      .filter(col("width").cast("long") > 0 &&
        col("height").cast("long") > 0)
      .select(col("media_id"), col("width"), col("height"),
        expr(grid("CAST(width AS BIGINT)")).as("n_x"),
        expr(grid("CAST(height AS BIGINT)")).as("n_y"))
      .withColumn("n_patches", col("n_x") * col("n_y"))
      .withColumn("pad_w",
        col("n_x") * patch - col("width").cast("long"))
      .withColumn("pad_h",
        col("n_y") * patch - col("height").cast("long"))
      .withColumn("halvings", expr(halvings).cast("int"))
      .withColumn("fits_after",
        expr(halvings) < 12 ||
          expr(s"${patchesAt(12)} <= ${maxPatches}L"))
      .orderBy("media_id")
  }

  def frameSample(media: DataFrame, n: Int, frameBytes: Int = 8): DataFrame =
    media.select(col("media_id"), col("payload"),
        posexplode(sequence(lit(0), lit(n - 1))).as(Seq("pos", "frame_idx")))
      .select(col("media_id"), col("frame_idx"),
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)")
          .as("frame_bytes"))

  /** 64-bit dHash (difference hash — the classic perceptual image
    * fingerprint) over an 8-row × 9-column grayscale thumbnail stored
    * as a 72-byte binary column: bit i (= row j·8 + col c) is set iff
    * pixel (j, c) > pixel (j, c+1). Horizontal gradients survive
    * re-encoding/brightness shifts, which is what makes the hash
    * perceptual. Pure codegen'd expressions over the lowercase-hex
    * rendering (byte p = hex chars 2p+1..2p+2 — the same arithmetic
    * runs verbatim in ANSI SQL); a wrong-length thumbnail fails loudly
    * per-row (the raise_error-in-scan precedent).
    *
    * The real decode (image → 8×9 grayscale thumbnail) is the stubbed
    * stage, exactly like [[decodeStub]]: swap in a real resampler
    * without touching this hash or any call site. */
  def dHash64(thumb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // NATIVE codegen'd expression (graft.functions.DHash64): one fused
    // byte loop inlined into the scan stage, replacing the original
    // 128-string-subexpression hex-decode chain (same bits, same
    // wrong-length failure contract; composed-vs-native equality is
    // spec-pinned in MultimodalSpec)
    graft.functions.VectorExpressions.dhash64(thumb)

  /** The original composed formulation (hex decode + 64 comparisons in
    * pure builtins) — kept as the oracle-shaped reference twin the
    * native expression is spec-checked against. */
  private[graft] def dHash64Composed(
      thumb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val guarded = when(length(thumb) =!= 72, raise_error(concat(
        lit("dHash64: thumbnail must be 72 bytes (8x9 grayscale), got "),
        length(thumb).cast("string"))))
      .otherwise(thumb)
    val hexs = lower(hex(guarded))
    def byteAt(p: Int) =
      conv(substring(hexs, p * 2 + 1, 2), 16, 10).cast("int")
    (0 until 64).map { i =>
      val j = i / 8
      val c = i % 8
      when(byteAt(j * 9 + c) > byteAt(j * 9 + c + 1), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _).cast("long")
  }

  /** Perceptual-hash image near-duplicate pairs: dHash over the stored
    * thumbnail column, then the SimHash banded-Hamming machinery
    * ([[graft.operators.Dedup.signatureNearDup]] — 4 bands × 16 bits
    * with single-flip probe enumeration; by pigeonhole the banded join
    * is EXACT for maxHamming ≤ bands·2−1 = 7). Returns
    * (id_a, id_b, hamming), hamming ≤ maxHamming.
    *
    * Band sizing is the scaling decision (measured, sf0.1→sf1): 8
    * bands × 8 bits is only 256 buckets per band, so bucket occupancy
    * grows linearly with the corpus and candidate pairs QUADRATICALLY
    * — 0.9 s → 40 s per decade (42×). 16-bit bands give 65 536
    * buckets; the (rb+1)× probe fan-out (17 rows per hash per band) is
    * map-side cheap, and the same sweep measures 1.4 s → 4.3 s (3.0×)
    * — the HmSearch trade the q55 text variant already documents.
    *
    * 100 TB shape: one scan computes the 64-bit hash per image (the
    * thumbnail column is bytes, the full blob is never read), the join
    * runs over DISTINCT hashes in 65 536-way band buckets, and only
    * qualifying signature pairs expand back to image ids. */
  def phashNearDup(media: DataFrame, idCol: String, thumbCol: String,
                   maxHamming: Int = 6, bandErrors: Int = 1): DataFrame = {
    val sig = media.select(col(idCol), dHash64(col(thumbCol)).as("dhash"))
    Dedup.signatureNearDup(sig, idCol, "dhash", maxHamming,
      bands = if (bandErrors == 1) 4 else 8, bits = 64,
      bandErrors = bandErrors)
  }

  /** Incremental perceptual-hash gate against a PERSISTED dHash store
    * — the image-side twin of the q198 text signature store: accepted
    * media persist only their 64-bit dHash (8 bytes per image — the
    * store for a billion images is 8 GB, the thumbnails it replaces
    * are terabytes); each new batch hashes its own thumbnails ONCE
    * and runs the [[Dedup.signatureDedupAgainstStore]] asymmetric
    * banded join. Nothing stored is ever re-decoded or re-hashed.
    * Returns one row per new media item: (idCol, n_matches,
    * best_store_id, best_hamming, is_dup), ordered by idCol. */
  def phashDedupAgainstStore(batch: DataFrame, idCol: String,
                             thumbCol: String, storeSigs: DataFrame,
                             maxHamming: Int = 6): DataFrame = {
    val sigs = batch.select(col(idCol), dHash64(col(thumbCol)).as("dhash"))
    Dedup.signatureDedupAgainstStore(sigs, idCol, "dhash", storeSigs,
      maxHamming, bands = 4, bits = 64, bandErrors = 1)
  }

  /** Scene-cut detection over sampled video frames — a cut is a
    * frame whose perceptual hash jumps ≥ `minHamming` bits from its
    * predecessor (consecutive frames within a scene are near-dups;
    * a cut re-randomizes half the dHash bits): the shot-boundary
    * pass a video-training pipeline runs right after
    * [[frameSamplePlan]], feeding per-scene sampling/dedup. Same
    * 72-byte thumbnail contract as [[dHash64]] (the JNI decode seam
    * upstream produces them).
    *
    * Scale shape: one native-kernel hash per frame (codegen'd, the
    * scan stage) + ONE lag window partitioned by video ordered by
    * frame index — videos are the parallelism, frames-per-video the
    * partition size. Returns one row per frame: (video, frame_idx,
    * hamming_prev — null on each video's first frame, is_cut),
    * ordered by (video, frame_idx). */
  def sceneCuts(frames: DataFrame, videoCol: String, idxCol: String,
                thumbCol: String, minHamming: Int = 16): DataFrame = {
    require(minHamming >= 1 && minHamming <= 64,
      s"minHamming must be in [1, 64]: $minHamming")
    frames
      .filter(col(videoCol).isNotNull && col(idxCol).isNotNull)
      .select(col(videoCol).as("video"),
        col(idxCol).cast("long").as("frame_idx"),
        dHash64(col(thumbCol)).as("_h"))
      .withColumn("_prev", lag(col("_h"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("video").orderBy("frame_idx")))
      .withColumn("hamming_prev",
        when(col("_prev").isNotNull,
          bit_count(col("_h").bitwiseXOR(col("_prev"))).cast("int")))
      .withColumn("is_cut",
        coalesce(col("hamming_prev") >= minHamming, lit(false)))
      .select("video", "frame_idx", "hamming_prev", "is_cut")
      .orderBy("video", "frame_idx")
  }
}
