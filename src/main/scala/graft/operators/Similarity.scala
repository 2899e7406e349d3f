package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is tiny and
  *     broadcast; candidates stream through a codegen'd zip_with/aggregate
  *     dot product — no shuffle of the candidate table at all, then a
  *     per-query top-k. Linear in |candidates|; the right baseline and
  *     the correctness oracle for the approximate path.
  *   - [[ivfTopK]]: IVF-style approximate search. Build `nCells` centroid
  *     cells (deterministic seeded assignment refined by Lloyd
  *     iterations computed AS DataFrame aggregations — no driver-side
  *     data loops), assign every vector to its nearest centroid, then
  *     probe only `nProbe` cells per query. At 1000 executors the probe
  *     join broadcasts the (tiny) centroid set and shuffles only the
  *     probed fraction ≈ nProbe/nCells of the data — the classic IVF
  *     trade: recall vs. scanned fraction.
  */
object Similarity {

  /** Dot product of two double-array columns — the native codegen'd
    * [[graft.functions.DotProduct]] expression (a fused loop inlined
    * into whole-stage codegen; the declarative zip_with/aggregate twin
    * is interpreted per element and materializes the products array —
    * see VectorExpressions' scaladoc). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** L2 norm of a double-array column (fused dot loop + sqrt). */
  def norm(v: Column): Column =
    graft.functions.VectorExpressions.norm(v)

  /** Cosine similarity between two float-array columns, computed in
    * double precision end to end. Self-contained form for one-off use;
    * the join operators below precompute per-row norms instead so the
    * O(dim) norm work amortizes over rows, not over pairs. */
  def cosine(a: Column, b: Column): Column = {
    def d(x: Column) = x.cast("array<double>")
    dot(d(a), d(b)) / (norm(d(a)) * norm(d(b)))
  }

  /** L2-normalize an embedding column into `outCol` (array<double> of
    * unit length); zero vectors map to null rather than an all-NaN
    * array. The norm is MATERIALIZED as a column before the transform
    * lambda references it — inlining `norm(v)` into the lambda would
    * re-evaluate the O(dim) norm once per element (O(dim²) per row).
    * Pure per-row pass, no shuffle. */
  def normalizeVectors(df: DataFrame, vecCol: String,
                       outCol: String = "normalized"): DataFrame =
    df.withColumn("_v", col(vecCol).cast("array<double>"))
      .withColumn("_n", norm(col("_v")))
      .withColumn(outCol,
        when(col("_n") > 0, transform(col("_v"), x => x / col("_n"))))
      .drop("_v", "_n")

  /** Symmetric per-vector int8 quantization: `scale` = max|x| / 127,
    * `q8[i]` = round(x[i] / scale) clamped to [−127, 127]. Cuts
    * embedding storage/shuffle bytes 4× (float32) to 8× (float64) — the
    * standard memory lever for billion-vector ANN indexes; IVF cell
    * assignment and candidate scoring tolerate the ≤ scale/2 per-
    * component error (re-rank survivors against the full-precision
    * vectors when exactness matters). All-zero vectors get scale 0 and
    * an all-zero q8. Pure per-row expressions (the max|x| is a
    * higher-order aggregate over the array, not a shuffle); the
    * arithmetic is ANSI-portable — round-half-away-from-zero and IEEE
    * division reproduce bit-identically in the DuckDB oracle. */
  def quantizeInt8(df: DataFrame, vecCol: String, quantCol: String = "q8",
                   scaleCol: String = "scale"): DataFrame =
    df.withColumn("_v", col(vecCol).cast("array<double>"))
      .withColumn(scaleCol,
        aggregate(col("_v"), lit(0.0), (acc, x) => greatest(acc, abs(x)))
          / lit(127.0))
      .withColumn(quantCol,
        when(col(scaleCol) > 0,
          transform(col("_v"), x =>
            least(greatest(round(x / col(scaleCol)), lit(-127L)), lit(127L))
              .cast("int")))
          .otherwise(transform(col("_v"), _ => lit(0))))
      .drop("_v")

  /** Max absolute reconstruction error of an int8 quantization:
    * max_i |x[i] − q8[i]·scale|. Bounded by scale/2 (+ clamp slack);
    * per-row expression, used to audit quantization quality. */
  def dequantMaxError(vec: Column, q8: Column, scale: Column): Column =
    array_max(zip_with(vec.cast("array<double>"), q8,
      (x, q) => abs(x - q.cast("double") * scale)))

  /** Johnson–Lindenstrauss random projection: reduce `dim`-dimensional
    * embeddings to `outDim` with a seeded Gaussian matrix, scaled by
    * 1/√outDim so expected pairwise distances are preserved — the
    * standard shrink step before brute-force/IVF search when the input
    * dimensionality is large (scanning 8 doubles beats scanning 64 at
    * identical recall targets for moderate distortion ε ≈ √(ln n /
    * outDim)). Deterministic: same seed, same matrix, reproducible
    * across runs and engines. Pure per-row expressions; the per-
    * component dot runs through the codegen'd [[dot]] loop. */
  def randomProjection(df: DataFrame, vecCol: String, dim: Int, outDim: Int,
                       seed: Long = 7L,
                       outCol: String = "projected"): DataFrame = {
    require(outDim > 0 && outDim <= dim,
      s"outDim ($outDim) must be in [1, dim ($dim)]")
    val planes = projectionPlanes(dim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val planesCol = array(planes.map(p => array(p.map(lit).toSeq: _*)).toSeq: _*)
    df.withColumn("_v", col(vecCol).cast("array<double>"))
      .withColumn(outCol,
        transform(planesCol, p => dot(col("_v"), p) * scale))
      .drop("_v")
  }

  /** The seeded Gaussian matrix, public so the DuckDB oracle
    * interpolates the SAME coefficients (single source of truth —
    * the MinHash-coefficient pattern). */
  def projectionPlanes(dim: Int, outDim: Int,
                       seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(outDim)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Exact top-k neighbors for each query row.
    *
    * Top-k selection is a [[TopK]] partial aggregation, NOT a
    * `row_number` window: a window puts every scored candidate row for
    * one query into a single reducer partition (a per-query straggler at
    * scale — the round-2 verdict finding); the aggregate keeps ≤k rows
    * per (query, partition) on the map side and merges bounded buffers,
    * so the shuffle volume is O(queries × k × partitions), independent of
    * |candidates|.
    *
    * @param candidates (id, vec) frame to search
    * @param queries    (id, vec) frame of query points (small — broadcast)
    * @return (query_id, rank, neighbor_id, cos) — rank 1..k by descending
    *         cosine, ties broken by neighbor id (deterministic). */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    TopK.perGroup(scored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic k-means-lite centroids: seed assignment = id % nCells,
    * then `iters` Lloyd steps, each ONE groupBy whose mean is computed by
    * `Summarizer.mean` over vector buffers (a single typed-imperative
    * aggregate: partial sums travel as one compact vector per
    * (cell, partition)). The earlier posexplode formulation multiplied
    * every row by dim through the shuffle and needed a second groupBy to
    * reassemble arrays. Returns (cell, centroid: array<double>). */
  def trainCentroids(data: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, iters: Int = 2,
                     trainSamplePct: Int = 25): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    require(trainSamplePct > 0 && trainSamplePct <= 100,
      s"trainSamplePct must be in (0, 100]: $trainSamplePct")
    // Centroid TRAINING runs on a deterministic hash-sample of the
    // corpus (md5-bucket, reproducible under any partitioning — never
    // rand()): at 100 TB nobody Lloyd-iterates the full table; cell
    // quality needs a representative sample, and every row still gets
    // ASSIGNED to its nearest trained centroid afterwards. Quality
    // affects only recall-per-probe, never full-probe correctness.
    // Small-input guard: a sample that came back empty (possible when
    // |data| is tiny) would silently train ZERO centroids and empty
    // every probe — fall back to the full data (the isEmpty probe is a
    // limit-1 job, negligible).
    val train =
      if (trainSamplePct >= 100) data
      else {
        val sampled = data.filter(Curation.hashBucket(col(idCol)) < trainSamplePct)
        if (sampled.isEmpty) data else sampled
      }
    def avgVec(df: DataFrame): DataFrame =
      df.groupBy("cell")
        .agg(Summarizer.mean(array_to_vector(col("v"))).as("mv"))
        .select(col("cell"), vector_to_array(col("mv")).as("centroid"))
    // Materialize each iteration's centroids (nCells rows — stats-sized):
    // left lazy, iteration i's lineage would re-run iterations 0..i-1.
    def localize(df: DataFrame): DataFrame = {
      val rows = df.collect().toSeq
      data.sparkSession.createDataFrame(
        data.sparkSession.sparkContext.parallelize(rows, 1), df.schema)
    }
    var centroids = localize(avgVec(
      train.select((col(idCol) % nCells).cast("int").as("cell"),
        col(vecCol).cast("array<double>").as("v"))))
    for (_ <- 0 until iters) {
      val assigned = assignCells(train, centroids, idCol, vecCol)
      centroids = localize(avgVec(
        assigned.select(col("cell"), col(vecCol).cast("array<double>").as("v"))))
    }
    centroids
  }

  /** Nearest-centroid assignment: broadcast the centroid set (with
    * precomputed norms), score each vector against all nCells centroids
    * (a small array of structs per row — no join explosion), take the
    * argmax. The row's own norm is computed once, not once per
    * centroid. */
  def assignCells(data: DataFrame, centroids: DataFrame, idCol: String,
                  vecCol: String): DataFrame = {
    val cent = broadcast(centroids
      .withColumn("cn", norm(col("centroid")))
      .groupBy()
      .agg(collect_list(struct(col("cell"), col("centroid"), col("cn")))
        .as("cents")))
    data.crossJoin(cent)
      .withColumn("_v", col(vecCol).cast("array<double>"))
      .withColumn("_vn", norm(col("_v")))
      .withColumn("best",
        aggregate(col("cents"),
          struct(lit(-1).as("cell"), lit(-2.0).as("cos")),
          (acc, c) => {
            val cs = dot(col("_v"), c("centroid")) / (col("_vn") * c("cn"))
            when(cs > acc("cos"), struct(c("cell").as("cell"), cs.as("cos")))
              .otherwise(acc)
          }))
      .withColumn("cell", col("best")("cell"))
      .drop("cents", "best", "_v", "_vn")
  }

  /** IVF approximate top-k: probe the `nProbe` nearest cells per query.
    * Recall < 1.0 for nProbe < nCells; at nProbe = nCells the probe set
    * is the whole table and the result is deterministically EQUAL to
    * [[bruteForceTopK]] (asserted in SimilaritySpec, which is what lets
    * the full-probe gate query reuse the exact oracle). Both top-k
    * selections (probe cells per query, neighbors per query) are [[TopK]]
    * partial aggregations — no `row_number` window anywhere (see
    * [[bruteForceTopK]] for why). */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 8,
              nProbe: Int = 2, trainSamplePct: Int = 25): DataFrame = {
    // trainCentroids returns an already-materialized local frame, so its
    // three consumers below never re-execute the Lloyd pipeline.
    val centroids = trainCentroids(candidates, idCol, vecCol, nCells,
      trainSamplePct = trainSamplePct)
    val indexed = assignCells(candidates, centroids, idCol, vecCol)
      .select(col("cell"), col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    // Per query: the nProbe nearest centroids (tiny — queries × nCells).
    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val qCells = q
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
    val probes = broadcast(
      TopK.perGroup(qCells.select("query_id", "cell", "ccos"),
        "query_id", "ccos", "cell", nProbe)
        .select("query_id", "cell")
        .join(q, Seq("query_id")))
    val scored = indexed.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    TopK.perGroup(scored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** IVF search over int8-QUANTIZED vectors with full-precision re-rank
    * — the composition a real billion-vector index runs ([[quantizeInt8]]
    * ∘ [[ivfTopK]]): the index (cell assignment + candidate scoring)
    * lives entirely on dequantized q8·scale vectors, 4×–8× smaller at
    * rest and through every shuffle than the float32/float64 originals,
    * and only the `rerankK` approximate survivors per query ever touch
    * the full-precision table — a (queries × rerankK)-row join, not a
    * corpus scan. Both top-k selections are [[TopK]] bounded partial
    * aggregates (no windows).
    *
    * Exactness: the final ranking is exact cosine over the shortlist, so
    * the result equals [[bruteForceTopK]] whenever the true top-k
    * survives the approximate pre-rank — guaranteed when the cosine gap
    * between rank k and rank rerankK exceeds the quantization score
    * error (per-component error ≤ scale/2). The gate's oracle replays
    * the quantized pre-rank + re-rank COMPOSITION itself (quantization
    * is bit-reproducible, see [[quantizeInt8]]), so gate greenness does
    * not rest on that gap — it checks the composition directly. */
  def ivfTopKQuantized(candidates: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int, rerankK: Int,
                       nCells: Int = 8, nProbe: Int = 2,
                       trainSamplePct: Int = 25): DataFrame = {
    require(rerankK >= k,
      s"rerankK ($rerankK) must be at least k ($k) — the re-rank can " +
        "only return rows the pre-rank kept")
    val quant = quantizeInt8(candidates.select(col(idCol), col(vecCol)),
      vecCol)
      .withColumn("dq",
        transform(col("q8"), x => x.cast("double") * col("scale")))
      .select(col(idCol), col("dq"))
    val centroids = trainCentroids(quant, idCol, "dq", nCells,
      trainSamplePct = trainSamplePct)
    val indexed = assignCells(quant, centroids, idCol, "dq")
      .select(col("cell"), col(idCol).as("neighbor_id"), col("dq").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val qCells = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
    val probes = broadcast(
      TopK.perGroup(qCells.select("query_id", "cell", "ccos"),
        "query_id", "ccos", "cell", nProbe)
        .select("query_id", "cell")
        .join(q, Seq("query_id")))
    val approx = indexed.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("acos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val shortlist = TopK.perGroup(
      approx.select("query_id", "neighbor_id", "acos"),
      "query_id", "acos", "neighbor_id", rerankK)
      .select("query_id", "neighbor_id")
    val full = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("fv"))
      .withColumn("fn", norm(col("fv")))
    val rescored = shortlist
      .join(full, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", dot(col("qv"), col("fv")) / (col("qn") * col("fn")))
    TopK.perGroup(rescored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine above
    * `threshold`. Exact O(n²) formulation for bounded inputs; at scale,
    * gate through [[Dedup.minHashCandidates]]-style LSH or [[ivfTopK]]
    * cells first. Returns (id_a, id_b, cos). */
  /** Sign-random-projection LSH near-duplicate pairs — the scale path
    * for [[nearDupPairs]]. K seeded Gaussian hyperplanes give each
    * vector a K-bit signature (bit k = sign(v·p_k)); bits are banded à
    * la MinHash and only vectors sharing a band bucket ever meet, so
    * the join cardinality tracks near-dup density instead of n². True
    * cosine is then verified exactly on the candidates. For a pair at
    * angle θ, a band of r bits collides with probability (1−θ/π)^r —
    * near-identical vectors (θ→0) are found with probability → 1.
    *
    * @param dim embedding dimensionality (all rows must match it)
    * @param seed deterministic hyperplane seed — same seed, same
    *             buckets, reproducible across runs and engines */
  def nearDupPairsLSH(data: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, dim: Int, numPlanes: Int = 16,
                      bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(numPlanes % bands == 0,
      s"bands ($bands) must divide numPlanes ($numPlanes) evenly; " +
        "a remainder would silently drop trailing signature bits and " +
        "weaken LSH recall")
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
    // One 2-D literal + a higher-order transform: the sign-bit string is
    // computed ONCE per row, data-driven. (The per-plane-expression
    // formulation duplicated numPlanes zip_with/aggregate trees into
    // every band struct — a numPlanes × dim codegen blowup that
    // dominated the bench at 64 planes.)
    val planesCol = array(planes.map(p => array(p.map(lit).toSeq: _*)).toSeq: _*)
    val sigStr = array_join(
      transform(planesCol,
        p => when(dot(col("v"), p) >= 0, lit("1")).otherwise(lit("0"))), "")
    val rowsPerBand = numPlanes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        substring(col("_sig"), b * rowsPerBand + 1, rowsPerBand).as("sig"))
    }
    // Candidate pairs carry ONLY (id_a, id_b): the band equi-join and
    // the distinct shuffle move two longs per row, never the vectors,
    // and a pair colliding in many bands costs one dot product, not
    // one per band. Vectors join back in AFTER dedup — the same
    // candidates-then-verify structure as Dedup.minHashCandidates →
    // jaccardOverCandidates.
    val banded = data
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("_sig", sigStr)
      .select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = banded.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val d = data
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm(col("v")))
    cand
      .join(d.select(col("id").as("id_a"), col("v").as("va"),
        col("n").as("na")), "id_a")
      .join(d.select(col("id").as("id_b"), col("v").as("vb"),
        col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // -------------------------------------------------------------------
  // IVF-PQ: product-quantized residuals with asymmetric-distance scoring
  // -------------------------------------------------------------------

  /** Deterministic k-medians over driver-collected training rows — the
    * codebook trainer for [[ivfPqTopK]]. Faiss-style: codebooks train on
    * a bounded SAMPLE collected to one machine (at 100 TB nobody
    * distributes Lloyd over the full table for a ksub-entry codebook);
    * every corpus row is still encoded against the trained result.
    *
    * k-MEDIANS, not k-means, deliberately: each codebook component is an
    * exact rank element (`quantile_disc` semantics — sorted, index
    * ⌈n/2⌉−1), so the trained values are BIT-IDENTICAL when the DuckDB
    * oracle replays the same seed → medians → reassign → medians
    * cascade; a mean would fold doubles in engine-dependent order and
    * break hash equality. Seeding is `floorMod(id, k)`; reassignment is
    * strict-min L2 with earliest-code ties, distances accumulated in
    * ascending component order (the same fold the engine expressions
    * and `list_dot_product` use). Empty clusters become zero vectors
    * (the replayable spine rule). */
  private[operators] def kMediansLocal(rows: Array[(Long, Array[Double])],
                                       k: Int, iters: Int): Array[Array[Double]] = {
    require(rows.nonEmpty, "k-medians needs a non-empty training sample")
    val dim = rows.head._2.length
    def median(vs: Array[Double]): Double = {
      java.util.Arrays.sort(vs)
      vs(math.ceil(0.5 * vs.length).toInt - 1)
    }
    def medians(assign: Array[Int]): Array[Array[Double]] =
      Array.tabulate(k) { c =>
        val members = rows.indices.filter(assign(_) == c)
        if (members.isEmpty) Array.fill(dim)(0.0)
        else Array.tabulate(dim) { d =>
          median(members.map(i => rows(i)._2(d)).toArray)
        }
      }
    var assign = rows.map(r => math.floorMod(r._1, k).toInt)
    var cb = medians(assign)
    for (_ <- 0 until iters) {
      assign = rows.map { case (_, v) => argminL2Local(v, cb) }
      cb = medians(assign)
    }
    cb
  }

  /** Strict-min L2 assignment, earliest code on ties; component-ascending
    * accumulation (the order every replaying engine uses). */
  private[operators] def argminL2Local(v: Array[Double],
                                       cb: Array[Array[Double]]): Int = {
    var best = -1; var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - cb(c)(i); s += d * d; i += 1 }
      if (s < bestD) { best = c; bestD = s }
      c += 1
    }
    best
  }

  private def litVec(v: Array[Double]): Column =
    array(v.map(lit).toIndexedSeq: _*)

  private def litMatrix(m: Array[Array[Double]]): Column =
    array(m.map(litVec).toIndexedSeq: _*)

  /** Argmin-L2 of `v` against a literal codebook, as a single
    * `aggregate` over the entry list (no when-chain tree blowup):
    * strict `<` keeps the earliest code — the same total order the
    * driver trainer and the SQL `row_number() ORDER BY dist, code`
    * replay use. */
  private def argminL2Expr(v: Column, cb: Array[Array[Double]]): Column = {
    val entries = array(cb.zipWithIndex.map { case (e, i) =>
      struct(lit(i).as("code"), litVec(e).as("ent"))
    }.toIndexedSeq: _*)
    aggregate(entries,
      struct(lit(-1).as("code"), lit(Double.MaxValue).as("dist")),
      (acc, ce) => {
        val d = aggregate(
          zip_with(v, ce("ent"), (x, e) => (x - e) * (x - e)),
          lit(0.0), (a, b) => a + b)
        when(d < acc("dist"),
          struct(ce("code").as("code"), d.as("dist"))).otherwise(acc)
      })("code")
  }

  /** IVF-PQ approximate top-k — the composition real billion-vector
    * indexes run (faiss IndexIVFPQ), layered on [[ivfTopKQuantized]]'s
    * probe → shortlist → full-precision re-rank skeleton:
    *
    *   - IVF cells from [[kMediansLocal]] (driver-trained on a
    *     `trainSamplePct` md5-hash sample, broadcast as LITERALS — the
    *     centroid table never joins, it compiles into the row
    *     expressions);
    *   - residuals r = v − centroid(cell) are PRODUCT-quantized: `m`
    *     subvectors of dim/m components, each encoded as the argmin-L2
    *     code into its own `ksub`-entry codebook (also k-medians on the
    *     sample's residuals). An index row carries (cell, id, m codes,
    *     recon norm) — m ints + a double instead of dim doubles, the
    *     8×–32× memory/shuffle cut that makes billion-vector indexes
    *     fit;
    *   - scoring is ASYMMETRIC distance: per query, an m × ksub table of
    *     subvector dot products against every codebook entry is computed
    *     once (tiny, rides the broadcast probe frame); each candidate
    *     scores as table lookups + adds — O(m) per candidate, not
    *     O(dim) — normalized by the stored reconstruction norm:
    *     cos ≈ (⟨q, centroid⟩ + Σ_j table[j][code_j]) / (‖q‖·‖recon‖);
    *   - the `rerankK` best approximate candidates per query re-rank
    *     against the full-precision vectors ((queries × rerankK)-row
    *     join, never a corpus scan).
    *
    * Exactness/recall: the final ranking is exact cosine over the
    * shortlist; recall vs [[bruteForceTopK]] is the PQ trade (distortion
    * falls as m·log₂(ksub) bits grow) and is spec-pinned on fixtures.
    * The q79 gate runs FULL probe and its DuckDB oracle replays the
    * entire train → encode → ADC → re-rank composition bit-for-bit
    * (k-medians codebooks are exact rank elements — see
    * [[kMediansLocal]]), so gate greenness never rests on a recall
    * assumption. */
  /** Hard ceiling on driver-collected PQ training DOUBLES (rows × dim):
    * codebooks need a representative sample, never the corpus — past
    * this, the collect IS the scale bug. A row cap alone is the wrong
    * unit: 200k rows is ~200 MB raw at dim 128 but ~1.2 GB at dim 768,
    * a driver OOM the cap was supposed to prevent. 25.6M doubles keeps
    * the old 200k-row behavior exactly at dim ≤ 128 and shrinks the row
    * allowance proportionally for wider vectors (~33k rows at dim 768).
    * Callers size `trainSamplePct` to stay under. */
  private val maxTrainDoubles = 25600000L

  /** Bounded, deterministic driver-side training sample: a
    * `trainSamplePct` md5-hash cut of the corpus (whole corpus at 100),
    * hard-capped at [[maxTrainDoubles]] / dim rows. `limit(max+1)`
    * bounds the transfer; the require rejects loudly instead of OOMing
    * the driver on an under-sampled huge corpus. `dim` < 0 probes the
    * vector width with a 1-row job (SemDeDup callers don't carry dim).
    * Shared by [[ivfPqTopK]] and the SemDeDup operators. */
  private def trainRows(df: DataFrame, idCol: String, vecCol: String,
                        trainSamplePct: Int, dim: Int = -1,
                        budgetDoubles: Long = maxTrainDoubles)
      : Array[(Long, Array[Double])] = {
    val sampled =
      if (trainSamplePct >= 100) df
      else {
        val s = df.filter(Curation.hashBucket(col(idCol)) < trainSamplePct)
        if (s.isEmpty) df else s
      }
    val d = math.max(1,
      if (dim > 0) dim
      else sampled.select(size(col(vecCol)).cast("int")).head(1)
        .headOption.map(_.getInt(0)).getOrElse(1))
    val maxRows = math.max(1, (budgetDoubles / d).toInt)
    val sample = sampled
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(maxRows + 1)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.length <= maxRows,
      s"codebook training sample exceeds the $budgetDoubles-double " +
        s"driver budget ($maxRows rows at dim $d) — lower " +
        s"trainSamplePct ($trainSamplePct) so training stays a " +
        "driver-sized sample")
    sample
  }

  /** Test seam for the training-sample budget: same contract as the
    * private [[trainRows]], with the doubles budget injectable so specs
    * can pin red/green at the boundary without building a 25.6M-double
    * frame. */
  private[graft] def trainSampleForTest(df: DataFrame, idCol: String,
                                        vecCol: String, trainSamplePct: Int,
                                        dim: Int, budgetDoubles: Long)
      : Array[(Long, Array[Double])] =
    trainRows(df, idCol, vecCol, trainSamplePct, dim, budgetDoubles)

  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, rerankK: Int, dim: Int,
                m: Int = 4, ksub: Int = 8, nCells: Int = 4,
                nProbe: Int = 4, iters: Int = 1,
                trainSamplePct: Int = 25): DataFrame = {
    require(rerankK >= k,
      s"rerankK ($rerankK) must be at least k ($k)")
    require(m > 0 && dim % m == 0,
      s"m ($m) must divide dim ($dim): subvectors need equal length")
    val sub = dim / m
    // ---- driver-side training (bounded sample, deterministic) ----
    val sample = trainRows(candidates, idCol, vecCol, trainSamplePct, dim)
    val cents = kMediansLocal(sample, nCells, iters)
    val residSample = sample.map { case (id, v) =>
      val c = cents(argminL2Local(v, cents))
      (id, Array.tabulate(dim)(i => v(i) - c(i)))
    }
    val cbs: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      kMediansLocal(
        residSample.map { case (id, r) =>
          (id, java.util.Arrays.copyOfRange(r, j * sub, (j + 1) * sub))
        }, ksub, iters)
    }
    // ---- index build: every corpus row encodes against the literals ----
    val centsLit = litMatrix(cents)
    val v = col("_v")
    val cellExpr = argminL2Expr(v, cents)
    val rv = zip_with(v, element_at(centsLit, col("cell") + 1),
      (x, c) => x - c)
    val indexed0 = candidates
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("cell", cellExpr)
      .withColumn("_r", rv)
      .withColumn("codes", array((0 until m).map { j =>
        argminL2Expr(slice(col("_r"), j * sub + 1, sub), cbs(j))
      }: _*))
    // reconstruction = centroid + concat(codebook entries); its norm is
    // computed ONCE at build time and stored (the ADC denominator)
    val reconResid = concat((0 until m).map { j =>
      element_at(litMatrix(cbs(j)), element_at(col("codes"), j + 1) + 1)
    }: _*)
    val indexed = indexed0
      .withColumn("rnorm",
        norm(zip_with(element_at(centsLit, col("cell") + 1), reconResid,
          (c, r) => c + r)))
      .select("cell", "neighbor_id", "codes", "rnorm")
    // ---- query side: probe cells + the per-query ADC lookup table ----
    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val centFrame = {
      val s = candidates.sparkSession
      s.createDataFrame(
        s.sparkContext.parallelize(
          cents.zipWithIndex.map { case (c, i) =>
            org.apache.spark.sql.Row(i, c.toSeq) }.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("centroid",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType), nullable = false))))
    }
    val qCells = q.crossJoin(broadcast(centFrame))
      .withColumn("ccos", cosine(col("qv"), col("centroid")))
    val probes = broadcast(
      TopK.perGroup(qCells.select("query_id", "cell", "ccos"),
        "query_id", "ccos", "cell", nProbe)
        .select("query_id", "cell")
        .join(q, Seq("query_id"))
        .withColumn("cdot", dot(col("qv"),
          element_at(centsLit, col("cell") + 1)))
        .withColumn("tab", array((0 until m).map { j =>
          transform(litMatrix(cbs(j)),
            e => dot(slice(col("qv"), j * sub + 1, sub), e))
        }: _*)))
    // ---- ADC scoring: O(m) lookups per candidate ----
    val scored = indexed.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        (col("cdot") + aggregate(
          zip_with(col("codes"), col("tab"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (a, b) => a + b)) / (col("qn") * col("rnorm")))
    val shortlist = TopK.perGroup(
      scored.select("query_id", "neighbor_id", "adc"),
      "query_id", "adc", "neighbor_id", rerankK)
      .select("query_id", "neighbor_id")
    // ---- full-precision re-rank of the shortlist ----
    val full = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("fv"))
      .withColumn("fn", norm(col("fv")))
    // the shortlist is (queries × rerankK) rows — broadcast it
    // EXPLICITLY: its size estimate flows through the TopK aggregate
    // from corpus-sized children, and an auto-planned SortMergeJoin
    // here would shuffle the full-precision corpus for a tiny join
    val rescored = broadcast(shortlist)
      .join(full, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", dot(col("qv"), col("fv")) / (col("qn") * col("fn")))
    TopK.perGroup(rescored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Shared SemDeDup assignment frame: every row with its k-medians
    * cell, squared centroid distance, and L2 norm. Training is the
    * bounded driver sample ([[trainRows]]); the codebook compiles into
    * the row expressions as literals (no centroid join), so this is one
    * map-side pass over the corpus. `cdist` folds component-ascending
    * (zip_with squared diffs, then an in-order aggregate) — the same
    * float ops as the oracle's `list_dot_product(diff, diff)`. */
  private def semDedupAssign(df: DataFrame, idCol: String, vecCol: String,
                             nCells: Int, iters: Int,
                             trainSamplePct: Int): DataFrame = {
    require(idCol != "cell" && idCol != "cdist",
      s"idCol ($idCol) collides with a SemDeDup output column")
    val sample = trainRows(df, idCol, vecCol, trainSamplePct)
    val cents = kMediansLocal(sample, nCells, iters)
    val centsLit = litMatrix(cents)
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("cell", argminL2Expr(col("_v"), cents))
      .withColumn("cdist", aggregate(
        zip_with(col("_v"), element_at(centsLit, col("cell") + 1),
          (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, t) => acc + t))
      .withColumn("_n", norm(col("_v")))
  }

  /** Intra-cell τ-pairs with both sides' centroid distances attached —
    * the shared core of [[semDedupPairs]] and [[semDedup]]. An equi-join
    * on `cell` (shuffle keyed by cell, AQE-splittable on skew), never a
    * cartesian; candidate pairs fall from n²/2 to Σ_c |cell_c|²/2. */
  private def semDedupPairsFull(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("id").as("id_a"), col("cell"),
      col("_v").as("_va"), col("_n").as("_na"), col("cdist").as("_cda"))
    val b = assigned.select(col("id").as("id_b"), col("cell"),
      col("_v").as("_vb"), col("_n").as("_nb"), col("cdist").as("_cdb"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("cos") >= tau)
  }

  /** SemDeDup semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with deterministic k-medians
    * (driver-trained codebook broadcast as literals), then compare
    * pairs ONLY within a cluster — exact cosine ≥ `tau` marks a
    * semantic duplicate. The cluster restriction is what scales:
    * `nCells` is the quadratic-bound AND parallelism knob — size it so
    * the expected cell is a few thousand rows (the paper runs ~11k
    * cells over LAION); cross-cell near-dups are the accepted miss, by
    * design. Determinism: cells come from [[kMediansLocal]] (codebook
    * components are exact rank elements), assignment is strict-min L2
    * with earliest-code ties, and every distance/cosine folds
    * component-ascending — the q79 invariants — so the q80 gate's
    * DuckDB oracle replays train → assign → pair bit-for-bit, with no
    * recall premise. Returns (id_a, id_b, cell, cos), id_a < id_b. */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    tau: Double, nCells: Int, iters: Int = 1,
                    trainSamplePct: Int = 100): DataFrame =
    semDedupPairsFull(
      semDedupAssign(df, idCol, vecCol, nCells, iters, trainSamplePct), tau)
      .select(col("id_a"), col("id_b"), col("cell"), col("cos"))

  /** SemDeDup keep-list: drop a row iff SOME τ-neighbor in its cell
    * outranks it under the total order (centroid distance DESC, id ASC)
    * — the paper's keep-farthest-from-centroid rule expressed as a
    * domination anti-join instead of an iterative grouping, so one
    * pair pass + one distinct + one anti-join settles the corpus. The
    * farthest member of every duplicate group survives by construction
    * (it has no outranking neighbor); chained duplicates drop together
    * (each has a better neighbor), which is the aggressive side of the
    * paper's per-cluster one-keeper semantics and is deterministic.
    * Returns the kept rows as (idCol, cell, cdist). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               tau: Double, nCells: Int, iters: Int = 1,
               trainSamplePct: Int = 100): DataFrame = {
    val assigned =
      semDedupAssign(df, idCol, vecCol, nCells, iters, trainSamplePct)
    val losers = semDedupPairsFull(assigned, tau)
      .select(when(col("_cda") >= col("_cdb"), col("id_b"))
        .otherwise(col("id_a")).as("id"))
      .distinct()
    assigned.join(losers, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"), col("cdist"))
  }

  /** Incremental SemDeDup gate against a PERSISTED embedding store —
    * the [[graft.operators.Dedup.lshDedupAgainstStore]] pattern in
    * embedding space: the hourly question "is this new document
    * semantically a duplicate of ANYTHING already accepted" answered
    * without ever re-reading accepted text. The store holds one
    * (idCol, vecCol) row per accepted document; centroids train on the
    * STORE (deterministic [[kMediansLocal]] over the bounded
    * driver-side sample — the store is the distribution the gate
    * protects), both sides assign by strict-min L2 against the
    * broadcast codebook literals, and each new vector compares by
    * exact cosine ONLY against store vectors in its own cell — the
    * SemDeDup cell restriction is the quadratic bound, `nCells` the
    * knob (size it so expected cell occupancy stays in the thousands
    * at production scale). Cross-cell misses are the accepted
    * approximation, exactly as in [[semDedupPairs]].
    *
    * Best match per new vector under the total order (cos DESC, store
    * id ASC) via one min(struct) fold; every distance/cosine folds
    * component-ascending (the q79/q80 invariants), so a DuckDB oracle
    * replays train → assign → compare bit-for-bit.
    *
    * Returns one row per NEW vector: (idCol, n_candidates — same-cell
    * store rows compared, best_store_id — null when the cell holds no
    * store vector, best_cos — round 6, null likewise, is_dup =
    * raw best cos ≥ tau), ordered by idCol. */
  def semDedupAgainstStore(newVecs: DataFrame, idCol: String,
                           vecCol: String, store: DataFrame, tau: Double,
                           nCells: Int, iters: Int = 1,
                           trainSamplePct: Int = 100): DataFrame = {
    val reserved = Set("cell", "n_candidates", "best_store_id",
      "best_cos", "is_dup")
    require(!reserved.contains(idCol),
      s"semDedupAgainstStore: idCol `$idCol` collides with a reserved " +
        s"output column (${reserved.toSeq.sorted.mkString(", ")})")
    require(store.columns.contains(idCol) && store.columns.contains(vecCol),
      s"store must carry (`$idCol`, `$vecCol`) " +
        s"(found: ${store.columns.mkString(", ")})")
    // Empty-store fast path (the first batch of a fresh pipeline):
    // nothing to train on, nothing to compare against — every new
    // vector reports clean. The isEmpty probe is a limit-1 job (the
    // trainCentroids precedent).
    if (store.isEmpty)
      return newVecs.select(col(idCol),
        lit(0L).as("n_candidates"),
        lit(null).cast(newVecs.schema(idCol).dataType)
          .as("best_store_id"),
        lit(null).cast("double").as("best_cos"),
        lit(false).as("is_dup"))
        .orderBy(idCol)
    val sample = trainRows(store, idCol, vecCol, trainSamplePct)
    val cents = kMediansLocal(sample, nCells, iters)
    def assignSide(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(s"_${as}_id"),
        col(vecCol).cast("array<double>").as(s"_${as}_v"))
        .withColumn("cell", argminL2Expr(col(s"_${as}_v"), cents))
        .withColumn(s"_${as}_n", norm(col(s"_${as}_v")))
    val scored = assignSide(newVecs, "b").join(assignSide(store, "s"),
        Seq("cell"))
      .withColumn("_cos",
        dot(col("_b_v"), col("_s_v")) / (col("_b_n") * col("_s_n")))
    val agg = scored.groupBy(col("_b_id"))
      .agg(count(lit(1)).as("n_candidates"),
        min(struct((-col("_cos")).as("_nc"), col("_s_id").as("_sid")))
          .as("_best"))
      .select(col("_b_id").as(idCol), col("n_candidates"),
        col("_best._sid").as("best_store_id"),
        (-col("_best._nc")).as("_bc"))
    newVecs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_store_id"),
        round(col("_bc"), 6).as("best_cos"),
        coalesce(col("_bc") >= tau, lit(false)).as("is_dup"))
      .orderBy(idCol)
  }

  /** The PERSISTED half of the incremental IVF index — the coarse
    * quantizer an hourly embedding ingest trains ONCE and then probes
    * for every subsequent batch (the q198/q217 store pattern applied
    * to ANN state, closing the "re-trains per batch" gap): one row per
    * cell, (cell: int, centroid: array<double>), a driver-local
    * nCells-row frame the caller writes to parquet. Training is the
    * deterministic [[kMediansLocal]] over the bounded md5-hash sample
    * (codebook components are exact rank elements — bit-replayable by
    * the DuckDB oracle, the q79/q80 invariant). Re-train only when
    * [[centroidDrift]] fires — the index contract is that batches
    * probe a FROZEN codebook, so results are reproducible until an
    * explicit version bump. */
  def ivfStoreCodebook(store: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, iters: Int = 1,
                       trainSamplePct: Int = 100): DataFrame = {
    val sample = trainRows(store, idCol, vecCol, trainSamplePct)
    val cents = kMediansLocal(sample, nCells, iters)
    val ss = store.sparkSession
    import ss.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
  }

  /** The posting rows of the incremental IVF index: every stored
    * vector assigned to its codebook cell (strict-min L2, earliest
    * code on ties — [[argminL2Expr]]) and int8-QUANTIZED
    * ([[quantizeInt8]]: 4–8× smaller at rest and through every probe
    * join than the float64 originals — the shape that lets a
    * billion-vector index live as plain parquet). One row per stored
    * vector: (cell, idCol, q8: array<int>, scale). New batches append
    * THEIR postings (same frozen codebook) without touching existing
    * rows; stored vectors are never re-read or re-encoded. */
  def ivfStorePostings(store: DataFrame, idCol: String, vecCol: String,
                       codebook: DataFrame): DataFrame = {
    val cb = collectCodebook(codebook)
    quantizeInt8(
      store.select(col(idCol),
          col(vecCol).cast("array<double>").as("_v"))
        .withColumn("cell", argminL2Expr(col("_v"), cb)),
      "_v")
      .select(col("cell"), col(idCol), col("q8"), col("scale"))
  }

  /** IVF top-k against the PERSISTED index — probe WITHOUT
    * re-training: queries assign to their `nProbe` nearest FROZEN
    * centroids (strict-min L2, dist ASC / cell ASC — replayable), the
    * probe frame broadcasts onto the postings' cell key, candidates
    * score by exact cosine over the DEQUANTIZED q8·scale vectors, and
    * both top-k selections are bounded [[TopK]] partial aggregates
    * (no windows — the [[bruteForceTopK]] rationale). The store side
    * touches only the probed cells' postings: per-batch cost tracks
    * batch × probe density, never store size, and the store parquet
    * is read cell-pruned when written partitioned by cell.
    *
    * Recall is the IVF trade (nProbe/nCells); the gate's DuckDB
    * oracle replays the SAME probe selection, so gate greenness never
    * rests on a recall assumption. Returns (query_id, rank 1..k,
    * neighbor_id, cos — dequantized, ties by neighbor id ASC). */
  def ivfTopKAgainstStore(codebook: DataFrame, postings: DataFrame,
                          queries: DataFrame, idCol: String,
                          vecCol: String, k: Int,
                          nProbe: Int = 2): DataFrame = {
    Seq("cell", "q8", "scale", idCol).foreach(c =>
      require(postings.columns.contains(c),
        s"postings must carry `$c` (the ivfStorePostings layout; " +
          s"found: ${postings.columns.mkString(", ")})"))
    val cb = collectCodebook(codebook)
    require(nProbe >= 1 && nProbe <= cb.length,
      s"nProbe must be in [1, ${cb.length}]: $nProbe")
    val entries = array(cb.zipWithIndex.map { case (e, i) =>
      struct(lit(i).as("cell"), litVec(e).as("ent"))
    }.toIndexedSeq: _*)
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val qd = q.select(col("query_id"), explode(entries).as("_e"),
        col("qv"))
      .withColumn("_negl2", -aggregate(
        zip_with(col("qv"), col("_e")("ent"), (x, e) => (x - e) * (x - e)),
        lit(0.0), (a, b) => a + b))
      .select(col("query_id"), col("_e")("cell").as("cell"),
        col("_negl2"))
    val probes = broadcast(
      TopK.perGroup(qd, "query_id", "_negl2", "cell", nProbe)
        .select("query_id", "cell")
        .join(q, Seq("query_id")))
    val cand = postings.select(col("cell"),
        col(idCol).as("neighbor_id"),
        transform(col("q8"), qq => qq.cast("double") * col("scale"))
          .as("cv"))
      .withColumn("cn", norm(col("cv")))
      .filter(col("cn") > 0)
    val scored = cand.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    TopK.perGroup(scored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos"))
  }

  /** Collected, contiguity-checked codebook — the driver-side form
    * [[argminL2Expr]] compiles into row expressions. */
  private def collectCodebook(codebook: DataFrame): Array[Array[Double]] = {
    val rows = codebook
      .select(col("cell").cast("int"),
        col("centroid").cast("array<double>"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, "empty codebook")
    require(rows.map(_.getInt(0)).toSeq == (0 until rows.length),
      s"codebook cells must be contiguous 0..n-1: " +
        rows.map(_.getInt(0)).mkString(", "))
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** Cell-balanced embedding sample — [[graft.operators.Curation
    * .diversitySample]]'s rule in EMBEDDING space (the D4-flavored
    * "no semantic neighborhood dominates the sample"): documents
    * bucket by their k-medians cell (deterministic, the SemDeDup
    * assignment) and each cell contributes at most `perCell` rows by
    * the deterministic md5 rank of the id (seedless, re-runnable).
    * Where the SimHash variant caps TEMPLATE skew, this caps TOPIC
    * skew — the two compose in a real curation pipeline.
    *
    * The per-cell cut is one bounded [[TopK]] aggregate (buffers never
    * exceed perCell; no per-cell sort window). Returns
    * (cell, rank ∈ 1..perCell, idCol), ordered by (cell, rank). */
  def cellBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, perCell: Int, iters: Int = 1,
                         trainSamplePct: Int = 100): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val assigned = semDedupAssign(df, idCol, vecCol, nCells, iters,
      trainSamplePct)
    val scored = assigned.select(col("id").as(idCol), col("cell"))
      // 48-bit md5 prefix, exact as a double (< 2^53); negated so the
      // TopK (score DESC) keeps the SMALLEST hashes, ties id ASC —
      // the diversitySample rank, verbatim
      .withColumn("_neg",
        -graft.functions.VectorExpressions
          .md5SliceToLong(col(idCol).cast("string"), 1, 12)
          .cast("double"))
    TopK.perGroup(scored, "cell", "_neg", idCol, perCell)
      .select(col("cell"), col("rank"), col(idCol))
      .orderBy("cell", "rank")
  }

  def nearDupPairs(data: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val d = data.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm(col("v")))
    val a = d.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = d.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Semantic outlier detection — the embedding-space curation filter
    * "which members least belong to their own group": each group gets
    * a ROBUST centroid (coordinate-wise rank-median — a mean would let
    * the outliers drag the centroid toward themselves, and its float
    * sum order would differ across engines; an exact rank element is
    * both robust and deterministic), and the k lowest-cosine members
    * per group surface as (labelCol, rank, idCol, cos_micro), rank 1 =
    * most isolated, cosine in integer micros, ties on id ASC.
    *
    * The label is compared AS A STRING and must not contain '|' (it
    * keys the per-coordinate median grouping).
    *
    * Scale design (100 TB): the per-coordinate medians run through
    * [[Scale.exactQuantilesByGroup]] (bucketed rank selection — no
    * per-group value buffering); the centroid frame is groups-sized
    * and broadcast; scoring is one narrow codegen'd pass; the
    * per-group cut is the bounded [[TopK]] aggregate, not a window.
    */
  /** Per-label rank-median centroid: each centroid component is the
    * exact per-coordinate median (rank-element selection through
    * [[Scale.exactQuantilesByGroup]] — bounded memory, replayable as
    * `quantile_disc(0.5)`). Returns (_lbl, _cent) — label-count rows.
    * Shared by [[semanticOutliers]] and [[centroidDrift]]. */
  private[operators] def rankMedianCentroids(base: DataFrame,
      idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val el = base.select(col(idCol), col(labelCol).cast("string").as("_lbl"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("_pos", "_x")))
      .withColumn("_gk", concat_ws("|", col("_lbl"), col("_pos")))
    val med = Scale.exactQuantilesByGroup(el, "_gk", "_x", idCol, Seq(0.5))
    med.select(
        substring_index(col("_gk"), "|", 1).as("_lbl"),
        substring_index(col("_gk"), "|", -1).cast("int").as("_pos"),
        col("_x"))
      .groupBy("_lbl")
      .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_x")))),
        s => s.getField("_x")).as("_cent"))
  }

  def semanticOutliers(df: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val base = df.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val cent = rankMedianCentroids(base, idCol, vecCol, labelCol)
    // zero-norm guard: a rank-median centroid CAN be the zero vector
    // (e.g. two orthogonal members); cosine is undefined there, and the
    // engines disagree on 0/0 (ANSI error vs inf) — score 0 ("no
    // consistent group direction") on both sides instead
    val vv = col(vecCol).cast("array<double>")
    val np = norm(vv) * norm(col("_cent"))
    val cos = when(np === 0.0, lit(0.0))
      .otherwise(dot(vv, col("_cent")) / np)
    val scored = base
      .select(col(idCol), col(labelCol).cast("string").as("_lbl"),
        col(vecCol))
      .join(broadcast(cent), Seq("_lbl"))
      .withColumn("_neg", -round(cos * 1000000L).cast("bigint"))
    TopK.perGroup(scored, "_lbl", "_neg", idCol, k)
      .select(col("_lbl").as(labelCol), col("rank"), col(idCol),
        (-col("_neg")).cast("bigint").as("cos_micro"))
      .orderBy(labelCol, "rank")
  }

  /** IVF recall audit: the partial-probe twin of q126's LSH audit —
    * measures, per query, how much of the EXACT cosine top-k the
    * `nProbe`-of-`nCells` probe actually recovers, instead of assuming
    * a recall from index theory. q21/q79 gate at FULL probe precisely
    * because Lloyd-mean centroids aren't replay-exact; this audit runs
    * the coarse quantizer on [[kMediansLocal]] (exact rank-element
    * codebooks, the q79/q80 invariant set), so a PARTIAL probe is
    * bit-replayable end-to-end: train → assign → probe → top-k → hit
    * counts, no float tolerance anywhere in the output (integers only).
    *
    * Probe selection and assignment both score against the LITERAL
    * broadcast codebook (compiled into row expressions — the centroid
    * table never joins); the probe list per query is
    * `array_sort`-by-(L2, code) of the nCells entries sliced to
    * nProbe (strict total order, same as the replay's
    * `ORDER BY dist, code`). Candidate scoring touches only rows in
    * probed cells (the IVF contract: ~nProbe/nCells of the corpus);
    * both top-k cuts are [[TopK]] bounded partial aggregates.
    *
    * Returns (query_id, k_eval, n_hits, recall_micro) — k_eval is the
    * exact-top-k size actually evaluated (< k only when the corpus has
    * fewer than k other rows), recall_micro = n_hits·10⁶ div k_eval. */
  def ivfRecallAudit(data: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nCells: Int, nProbe: Int,
                     iters: Int = 1, trainSamplePct: Int = 100): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells=$nCells], got $nProbe")
    val cb = kMediansLocal(
      trainRows(data, idCol, vecCol, trainSamplePct), nCells, iters)
    val entries = array(cb.zipWithIndex.map { case (e, i) =>
      struct(lit(i).as("code"), litVec(e).as("ent"))
    }.toIndexedSeq: _*)
    def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val assigned = data
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cell", argminL2Expr(col("cv"), cb))
      .withColumn("cn", norm(col("cv")))
    val probed = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(slice(array_sort(transform(entries, ce =>
          struct(l2(col("qv"), ce("ent")).as("dist"),
            ce("code").as("code")))), 1, nProbe)).as("pc"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("pc")("code").as("cell"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val approx = TopK.perGroup(
      scored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val exact = bruteForceTopK(data, queries, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    exact
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_eval"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("k_eval"), col("n_hits"),
        expr("(n_hits * 1000000L) div k_eval").as("recall_micro"))
  }

  /** Matryoshka truncation-recall audit (Kusupati et al. 2022): how
    * much of the FULL-dimension cosine top-k survives when vectors are
    * truncated to their first `dPrime` components — the measurement
    * that decides whether an MRL-style embedding column can be stored/
    * searched at a fraction of its width (a 4× dim cut that keeps
    * recall@k ≈ 0.95 is a 4× I/O and index-memory win at 100 TB).
    * Same contract as [[ivfRecallAudit]] — which audits the INDEX's
    * probe loss; this audits the REPRESENTATION's truncation loss:
    * exact brute-force top-k on both representations over a SMALL
    * query frame (the audit runs on a sampled query set, never the
    * corpus × corpus product), hits counted in exact integers.
    *
    * Truncated similarity is cosine of the PREFIX (re-normalized by
    * the prefix norm — the MRL convention), computed by the same
    * [[bruteForceTopK]] machinery over sliced arrays. Returns
    * (query_id, k_eval, n_hits, recall_micro) per query. */
  def truncationRecallAudit(data: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String,
                            dPrime: Int, k: Int): DataFrame = {
    require(dPrime >= 1, s"dPrime must be >= 1: $dPrime")
    require(k >= 1, s"k must be >= 1: $k")
    def truncated(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol).cast("array<double>"), 1, dPrime).as("_tv"))
    val approx = bruteForceTopK(truncated(data), truncated(queries),
      idCol, "_tv", k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val exact = bruteForceTopK(data, queries, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    exact
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_eval"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("k_eval"), col("n_hits"),
        expr("(n_hits * 1000000L) div k_eval").as("recall_micro"))
  }

  /** Hard-negative mining for retrieval/embedding training: per query,
    * the top-k most-cosine-similar corpus rows whose `labelCol` DIFFERS
    * from the query's — the "confusable but wrong" examples contrastive
    * training wants (DPR/Sentence-BERT practice: random negatives are
    * too easy, the hard ones sit just across the label boundary).
    *
    * Same shape contract as [[bruteForceTopK]]: the query frame is the
    * small broadcast side, scoring is one corpus pass, the per-query
    * cut is the bounded [[TopK]] aggregate (shuffle O(queries · k ·
    * partitions), never the scored set). Null labels (either side)
    * produce no pairs — a row without a label can't certify "different
    * class". At billion-row scale, pre-restrict `candidates` to the
    * probed cells of an IVF index ([[ivfTopK]]'s probe frame) and feed
    * the shortlist here; the gate runs the exhaustive form, which the
    * oracle replays exactly. */
  def hardNegatives(candidates: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(labelCol).as("_qlbl"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = candidates
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("_nlbl"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(q,
      col("neighbor_id") =!= col("query_id") &&
        col("_nlbl") =!= col("_qlbl"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    TopK.perGroup(scored.select("query_id", "neighbor_id", "cos"),
      "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Embedding snapshot drift: per label, the cosine between the
    * rank-median centroids of two corpus snapshots (old embedder vs
    * re-embedded, last week vs this week) — the model/version drift
    * audit an embedding-dependent pipeline runs before trusting ANN
    * indexes or SemDeDup thresholds across a re-embed. cos ≈ 10⁶
    * (micros) means the label's semantic direction held; a drop
    * flags re-tuning.
    *
    * Centroids come from [[rankMedianCentroids]] (exact rank
    * elements, replayable as `quantile_disc`), the zero-norm guard is
    * q118's (engines disagree on 0/0), and the output is integer
    * micros. Only labels present in BOTH snapshots drift-score; the
    * two label-count centroid frames join broadcast. Returns
    * (label, n_a, n_b, cos_micro) — label-count rows. */
  def centroidDrift(a: DataFrame, b: DataFrame, idCol: String,
                    vecCol: String, labelCol: String): DataFrame = {
    // ONE fused DAG: both snapshots union with a 2-char side tag
    // folded into the label key, so the median machinery and the
    // label counts run once over the union instead of once per side.
    // Total exploded volume is identical either way (each unfused
    // pass covered half the rows — measured parity at sf0.1); the win
    // is structural: half the jobs/shuffle rounds, and a shared
    // source relation scans once where two per-side plans would scan
    // it twice. The tag separator is ":" — the helper's own key
    // separator is "|", so any label string survives the roundtrip;
    // substring(3) strips the tag exactly.
    def side(df: DataFrame, tag: String) = df
      .filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol), col(vecCol),
        concat(lit(tag), col(labelCol).cast("string")).as("_side_lbl"))
    val tagged = side(a, "a:").unionByName(side(b, "b:"))
    val cents = rankMedianCentroids(tagged, idCol, vecCol, "_side_lbl")
    val counts = tagged.groupBy("_side_lbl").agg(count(lit(1)).as("_n"))
    // the helper renames its label key to `_lbl` on the way out
    def slice(tag: String, centOut: String, nOut: String): DataFrame =
      cents.join(counts, cents("_lbl") === counts("_side_lbl"))
        .filter(col("_lbl").startsWith(tag))
        .select(expr("substring(_lbl, 3)").as("_lbl"),
          col("_cent").as(centOut), col("_n").as(nOut))
    val ca = slice("a:", "_cent_a", "n_a")
    val cb = slice("b:", "_cent_b", "n_b")
    val np = norm(col("_cent_a")) * norm(col("_cent_b"))
    val cos = when(np === 0.0, lit(0.0))
      .otherwise(dot(col("_cent_a"), col("_cent_b")) / np)
    ca.join(broadcast(cb), Seq("_lbl"))
      .select(col("_lbl").as(labelCol), col("n_a"), col("n_b"),
        round(cos * 1000000L).cast("bigint").as("cos_micro"))
  }

  /** Top principal component of an embedding column — EXACT distributed
    * covariance moments + a bit-replayable integer power iteration.
    * The direction a corpus's embedding cloud stretches along is a
    * first-class curation signal (dominant-topic axis, batch-effect
    * detector before [[embedding snapshot drift]] re-embeds), and PCA
    * is the textbook reduction — but a float implementation is
    * UNGATEABLE: parallel double sums are order-dependent and eigen
    * routines differ per library. This one is deterministic end to
    * end:
    *
    *   1. Each vector quantizes to integer micros (floor(x·10⁶) — the
    *      same floor both engines share). ONE narrow explode emits the
    *      full i×j product grid PLUS a sentinel (i, −1) linear term per
    *      coordinate, so a single hash aggregate yields S2 = Σ x xᵀ,
    *      S1 = Σ x and n together: map-side partials collapse the
    *      explode to ≤ dim·(dim+1) rows per partition — the shuffle
    *      carries the GRID, never the corpus (dim² CPU per row is the
    *      inherent cost of covariance, not an artifact).
    *   2. The dim²-row moment frame collects to the driver (bounded:
    *      dim ≤ 256 ⇒ ≤ 65 792 rows — the codebook-training budget),
    *      where C = n·S2 − S1·S1ᵀ forms in exact BigInt.
    *   3. `iterations` rounds of v ← C·v with L∞ renormalization to
    *      10⁶ scale, all BigInt with TRUNCATING division — BigInt `/`
    *      and DuckDB's `//` both truncate toward zero (verified:
    *      −7 // 2 = −3 in DuckDB), so negative components renormalize
    *      identically; v₀ = 10⁶·e₀. Final sign convention: the
    *      largest-|component| coordinate (ties → smallest index) is
    *      made positive.
    *
    * The DuckDB oracle replays every step in HUGEINT and must agree
    * bit for bit. Returns (pos, component_micro) with
    * component_micro ∈ [−10⁶, 10⁶], ordered by pos. */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int,
                      iterations: Int = 8): DataFrame = {
    require(dim >= 2 && dim <= 256,
      s"dim must be in [2, 256] (the moment grid is dim² driver rows): $dim")
    require(iterations >= 1 && iterations <= 30,
      s"iterations must be in [1, 30]: $iterations")
    // UPPER-TRIANGLE grid only (xi·xj = xj·xi — the mirrored driver
    // matrix is bit-identical to a full grid, at half the explode and
    // half the shuffled cells): inner transform runs over
    // slice(_m, i+1, dim) so cell (i, i+j2) covers j ≥ i; the
    // sentinel (i, −1) carries the linear term.
    // Dimension guard fused into the scan (the raise_error precedent
    // of Dedup.scala:690): a short vector would silently skew moments
    // and desynchronize per-cell counts; a long one would throw on the
    // driver. Fail loudly per-row instead.
    // Flat-position melt: the original form exploded 3-field STRUCTS
    // (i, j, xi·xj) built by nested higher-order transforms — HOFs run
    // INTERPRETED (no whole-stage codegen), so per row it allocated
    // dim(dim+3)/2 struct objects before the aggregate ever saw a
    // cell. Emitting one flat array<long> of the identical products
    // (upper-triangle blocks, each closed by the linear term) keeps
    // the same interpreted transforms but drops the per-cell struct
    // and two of three aggregate key columns: posexplode's ordinal IS
    // the (i, j) index, decoded on the driver. The summed values are
    // bit-identical (same long products, same decimal(38,0) fold) —
    // only the cell KEY representation changed. Measured 4.9 → 2.7 s
    // on the q170 gate at sf0.1 (same box, median of 5).
    // Position layout: block i starts at off(i) = Σ_{t<i}(dim−t+1)
    // = i·dim − i(i−1)/2 + i; positions off(i)..off(i)+(dim−1−i) are
    // products (i, j = i+k); position off(i)+dim−i is the linear
    // sentinel (the old (i, −1) cell).
    val cells = df.filter(col(vecCol).isNotNull)
      .select(when(size(col(vecCol)) =!= dim, raise_error(concat(
          lit(s"pcaTopComponent: vector length != $dim: "),
          size(col(vecCol)).cast("string"))))
        .otherwise(col(vecCol)).as(vecCol))
      .select(expr(s"transform(`$vecCol`, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("_m"))
      .select(posexplode(expr(
        s"""flatten(transform(_m, (xi, i) ->
           |  array_append(
           |    transform(slice(_m, i + 1, $dim), xj -> xi * xj),
           |    xi)))""".stripMargin)).as(Seq("_pos", "_p")))
      .groupBy("_pos")
      .agg(sum(col("_p").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    require(cells.nonEmpty, "pcaTopComponent: no non-null vectors")
    def blockOff(i: Int): Int = i * dim - i * (i - 1) / 2 + i
    // n from the DETERMINISTIC sentinel cell (0, -1) ≡ flat position
    // blockOff(0) + dim — every non-null (length-guarded) vector
    // contributes exactly one such cell, so its count is the row
    // count; cells.head of an unordered collect would be an arbitrary
    // row.
    val sentinel0 = blockOff(0) + dim
    val n = BigInt(cells.collectFirst {
      case r if r.getInt(0) == sentinel0 => r.getLong(2)
    }.getOrElse(sys.error("pcaTopComponent: sentinel cell (0,-1) missing")))
    val s1 = Array.fill(dim)(BigInt(0))
    val s2 = Array.fill(dim, dim)(BigInt(0))
    cells.foreach { r =>
      val pos = r.getInt(0)
      // decode flat position → (i, j): i is the block whose range
      // contains pos; j = i + (pos − off(i)), or the linear sentinel
      // when pos is the block's last slot
      var i = 0
      while (i + 1 < dim && pos >= blockOff(i + 1)) i += 1
      val k = pos - blockOff(i)
      val s = BigInt(r.getDecimal(1).toBigInteger)
      if (k == dim - i) s1(i) = s
      else { val j = i + k; s2(i)(j) = s; s2(j)(i) = s }
    }
    val c = Array.tabulate(dim, dim)((i, j) => n * s2(i)(j) - s1(i) * s1(j))
    var v = Array.tabulate(dim)(i => if (i == 0) BigInt(1000000) else BigInt(0))
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      v = if (mx > 0) w.map(x => (x * 1000000) / mx)
          else Array.fill(dim)(BigInt(0))
    }
    // sign convention: the dominant coordinate (max |v|, ties to the
    // smallest pos) points positive
    val lead = (0 until dim).minBy(i => (-v(i).abs, i))
    val signed = if (v(lead) < 0) v.map(-_) else v
    val s = df.sparkSession
    s.createDataFrame(
      (0 until dim).map(i => (i, signed(i).toLong)))
      .toDF("pos", "component_micro")
      .orderBy("pos")
  }

  /** Mutual top-1 alignment between two embedding frames — the
    * margin-free core of bitext / cross-collection pairing (the
    * mutual-nearest-neighbor criterion LASER/CCMatrix-style mining
    * applies before margin scoring): a pair (l, r) is emitted iff r is
    * l's cosine nearest neighbor among `right` AND l is r's among
    * `left`. Ids must be disjoint across the two frames — the top-1
    * joins drop equal-id candidates (the self-pair rule inherited
    * from [[bruteForceTopK]]), so a shared id would silently remove
    * that cross-frame candidate; callers key the two sides on
    * non-overlapping id spaces (the gate uses a parity split).
    *
    * `nCells = 0` runs both directions brute-force; `nCells > 0`
    * routes both through [[ivfTopK]] — at full probe (`nProbe = 0` ⇒
    * nProbe = nCells) the result is deterministically ≡ brute force
    * (the q21 equivalence), at partial probe it is the documented
    * approximate scale path. Cosine ties break by neighbor id ASC
    * (the TopK total order), so every mode is a deterministic
    * function of its inputs.
    *
    * Scale shape (100 TB): two candidate-bounded top-1 joins + one
    * equi-join of the two (query → best) frames; nothing all-pairs
    * outside the probed cells. */
  def mutualAlign(left: DataFrame, right: DataFrame, idCol: String,
                  vecCol: String, nCells: Int = 0,
                  nProbe: Int = 0): DataFrame = {
    def top1(c: DataFrame, q: DataFrame): DataFrame =
      if (nCells <= 0) bruteForceTopK(c, q, idCol, vecCol, k = 1)
      else ivfTopK(c, q, idCol, vecCol, k = 1, nCells = nCells,
        nProbe = if (nProbe <= 0) nCells else nProbe)
    val l2r = top1(right, left).select(col("query_id").as("left_id"),
      col("neighbor_id").as("right_id"))
    val r2l = top1(left, right).select(col("query_id").as("_rq"),
      col("neighbor_id").as("_rn"))
    l2r.join(r2l, col("right_id") === col("_rq") &&
        col("left_id") === col("_rn"))
      .select(col("left_id"), col("right_id"))
      .orderBy("left_id")
  }
}
