package graft.inference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Incremental landing-zone manifest: persist the per-file
  * [[ColumnProfile]] rows (driver-sized — one row per (file, column),
  * KBs even for thousands of files), so the NEXT arrival of files in a
  * landing directory profiles only the unseen ones and still answers
  * with full-corpus semantics.
  *
  * This works because the profile is a proven SEMIGROUP
  * ([[ColumnProfile.merge]], spec-pinned): merging stored generation-1
  * profiles with freshly-scanned generation-2 profiles is EXACTLY the
  * profile of the union — so the drift report for the newcomers (the
  * reference's RedshiftAutoSchema.py:202-225 vocabulary: MISSING /
  * TYPE DRIFT, notype = no evidence) is identical to re-profiling the
  * whole directory, at the scan cost of only the new files.
  *
  * 100 TB shape: a year-old landing zone re-profiles nothing; each
  * incremental run reads only the day's arrivals (footer fast path
  * included), and the manifest grows by a few rows per file. */
object LandingManifest {

  /** Manifest frame schema (stable, versionable). `ordinal` preserves
    * per-file column order; `source_type` is the Spark DDL string
    * (round-trips via DataType.fromDDL). */
  val manifestSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("ordinal", IntegerType, nullable = false),
    StructField("field", StringType, nullable = false),
    StructField("source_type", StringType, nullable = false),
    StructField("identifier", BooleanType, nullable = false),
    StructField("non_null", LongType, nullable = false),
    StructField("bool_domain", BooleanType, nullable = false),
    StructField("numeric_count", LongType, nullable = false),
    StructField("int_count", LongType, nullable = false),
    StructField("integral", BooleanType, nullable = false),
    StructField("min_d", DoubleType, nullable = true),
    StructField("max_d", DoubleType, nullable = true),
    StructField("ts_count", LongType, nullable = false),
    StructField("all_midnight", BooleanType, nullable = false),
    StructField("max_len", LongType, nullable = true),
    StructField("complex", BooleanType, nullable = false),
    StructField("big_obj_count", LongType, nullable = false)))

  /** Entries → manifest frame (local relation; no Spark job until an
    * action). */
  def toFrame(spark: SparkSession,
              entries: Seq[(String, Seq[ColumnProfile])]): DataFrame = {
    val rows = for {
      (file, ps) <- entries
      (p, i) <- ps.zipWithIndex
    } yield Row(file, i, p.field, p.sourceType.sql, p.identifier,
      p.nonNull, p.boolDomain, p.numericCount, p.intCount, p.integral,
      p.minD.orNull, p.maxD.orNull, p.tsCount, p.allMidnight,
      p.maxLen.orNull, p.complex, p.bigObjCount)
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), manifestSchema)
  }

  /** Persist a manifest (overwrite — the manifest is tiny; callers
    * snapshot-and-replace rather than append, so a crashed run can
    * never leave a half-written generation). */
  def write(spark: SparkSession, manifestPath: String,
            entries: Seq[(String, Seq[ColumnProfile])]): Unit =
    toFrame(spark, entries).coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)

  /** Load a manifest back into per-file profile entries. File order is
    * name-sorted (deterministic regardless of write layout); per-file
    * column order is the stored ordinal. */
  def read(spark: SparkSession, manifestPath: String)
      : Seq[(String, Seq[ColumnProfile])] = {
    val rows = spark.read.schema(manifestSchema).parquet(manifestPath)
      .collect()
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (f, rs) =>
      f -> rs.sortBy(_.getInt(1)).toSeq.map { r =>
        def optD(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        ColumnProfile(
          field = r.getString(2),
          sourceType = DataType.fromDDL(r.getString(3)),
          identifier = r.getBoolean(4),
          nonNull = r.getLong(5),
          boolDomain = r.getBoolean(6),
          numericCount = r.getLong(7),
          intCount = r.getLong(8),
          integral = r.getBoolean(9),
          minD = optD(10),
          maxD = optD(11),
          tsCount = r.getLong(12),
          allMidnight = r.getBoolean(13),
          maxLen = optL(14),
          complex = r.getBoolean(15),
          bigObjCount = r.getLong(16))
      }
    }
  }

  /** Incremental drift: profile ONLY the files under `dir` that are
    * not in `manifest` (footers read once, one keyed scan per schema:
    * [[ParquetFooters.profileChildren]]),
    * merge them with the stored profiles, and report each NEWCOMER
    * against the merged corpus schema with the usual vocabulary.
    *
    * Returns (newEntries, report): callers persist
    * `manifest ++ newEntries` via [[write]] when they accept the
    * generation. Zero new files → empty report, no Spark job. */
  def driftSince(spark: SparkSession,
                 manifest: Seq[(String, Seq[ColumnProfile])],
                 dir: String, parallelism: Int = 8)
      : (Seq[(String, Seq[ColumnProfile])], DataFrame) = {
    val seen = manifest.map(_._1).toSet
    val children = ParquetFooters.children(spark, dir)
      .filterNot(p => seen.contains(p.getName))
    val newEntries = ParquetFooters.profileChildren(spark, children, parallelism)
    val corpus = DirectoryDrift.mergeProfiles(manifest ++ newEntries)
    (newEntries, DirectoryDrift.reportAgainst(spark, corpus, newEntries))
  }
}
