package graft.inference

import graft.inference.TypeInference.ColumnMeta
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-drift inference across a HETEROGENEOUS file directory — the
  * everyday 100 TB reality the single-table path can't express: a
  * landing directory where files disagree on a column's type (an id
  * that outgrew int4 mid-feed, a numeric that went fractional, a
  * column added or dropped between producer versions). Such a
  * directory cannot be read as one Spark relation at all (conflicting
  * parquet physical types fail schema merge), so inference must go
  * per-file and be combined above the scan.
  *
  * Semantics (generalizing the reference's single-table diff,
  * RedshiftAutoSchema.py:202-225, to file-vs-corpus):
  *   1. every file is profiled independently — its own stats row per
  *      column, from its footer or from the one aggregate of its schema
  *      group keyed by file (≤2 jobs per group, 100 TB-safe);
  *   2. the corpus schema is the SEMIGROUP MERGE of the per-file
  *      profiles ([[ColumnProfile.merge]]): merged inference ≡
  *      inference over the union of the files' rows — the exact
  *      "widest type" (pinned by TypeInferenceSpec's monotonicity
  *      property), not a lossy type-level lattice join;
  *   3. each file is then diffed against the corpus schema with the
  *      RAS reason vocabulary: a corpus column absent from the file →
  *      `MISSING` (the proposed-present/deployed-null case, RAS:219),
  *      a file whose inferred type differs from the corpus type →
  *      `TYPE DRIFT` (the TYPE MISMATCH analog — both sides are
  *      canonical inferred names, so string inequality IS the class
  *      test). Files where the column is all-null (`notype`) carry no
  *      evidence and are not drift (RAS:222's notype exclusion);
  *      corpus-`notype` columns are excluded the same way.
  *
  * Scale shape: k files → k footer reads on the driver and one keyed
  * stats-only aggregate per distinct schema
  * ([[ParquetFooters.profileChildren]]: at most 2 jobs per schema
  * group, none to resolve a file; nothing but k × nCols profile records
  * on the driver), one tiny local report frame out. No data row ever
  * crosses files.
  */
object DirectoryDrift {

  /** Corpus profiles: field-wise semigroup merge across files, field
    * order = first appearance across the file list. */
  def mergeProfiles(perFile: Seq[(String, Seq[ColumnProfile])])
      : Seq[ColumnProfile] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, ColumnProfile]
    for ((_, ps) <- perFile; p <- ps)
      acc(p.field) = acc.get(p.field).map(_.merge(p)).getOrElse(p)
    acc.values.toSeq
  }

  /** The merged (corpus-wide) schema, as the single-table path would
    * infer it over the union of all files' rows. */
  def mergedSchema(perFile: Seq[(String, Seq[ColumnProfile])])
      : Seq[ColumnMeta] =
    mergeProfiles(perFile).map { p =>
      ColumnMeta(p.field, p.sourceType.simpleString, TypeInference.decide(p))
    }

  /** The file-vs-corpus drift rule, on the driver: for each `corpus`
    * column in order, `MISSING` when `file` lacks it, `TYPE DRIFT` when
    * the file infers another type. A column the file holds all-null
    * (`notype`) is no evidence, and a corpus column that is `notype` is
    * never reported. Rows are (field, file type, corpus type, reason);
    * the file type is None on MISSING rows. */
  def driftRows(corpus: Seq[ColumnProfile], file: Seq[ColumnProfile])
      : Seq[(String, Option[String], String, String)] = {
    val fileTypes = file.map(p => p.field -> TypeInference.decide(p).name).toMap
    for {
      p <- corpus
      ct = TypeInference.decide(p).name if ct != "notype"
      reason <- fileTypes.get(p.field) match {
        case None           => Some("MISSING")
        case Some("notype") => None // no evidence in this file ≠ drift
        case Some(ft)       => if (ft != ct) Some("TYPE DRIFT") else None
      }
    } yield (p.field, fileTypes.get(p.field), ct, reason)
  }

  /** Per-file drift report: DataFrame(file, field, file_type,
    * merged_type, reason), only actual drifts of each file against the
    * merge of all of them ([[driftRows]]), ordered (file, field). `file_type` is null on MISSING rows. */
  def driftReport(spark: SparkSession,
                  perFile: Seq[(String, Seq[ColumnProfile])]): DataFrame =
    reportAgainst(spark, mergeProfiles(perFile), perFile)

  /** The [[driftReport]] frame for `files` against a given corpus. */
  private[inference] def reportAgainst(spark: SparkSession,
      corpus: Seq[ColumnProfile],
      files: Seq[(String, Seq[ColumnProfile])]): DataFrame = {
    val rows = for {
      (file, ps) <- files
      (field, ft, ct, reason) <- driftRows(corpus, ps)
    } yield (file, field, ft.orNull, ct, reason)
    // sort key excludes file_type: it is null on MISSING rows
    spark.createDataFrame(rows.sortBy(r => (r._1, r._2)))
      .toDF("file", "field", "file_type", "merged_type", "reason")
  }

  /** Directory entry point: every non-hidden child of `dir` is one
    * file of the heterogeneous table (child directories — e.g. one
    * Spark write each — read as parquet units). Hadoop FS listing, so
    * the same call works on HDFS/object stores. */
  def inferDirectory(spark: SparkSession, dir: String,
                     parallelism: Int = 8)
      : (Seq[ColumnMeta], DataFrame) = {
    val children = ParquetFooters.children(spark, dir)
    require(children.nonEmpty, s"no files under $dir")
    val perFile = ParquetFooters.profileChildren(spark, children, parallelism)
    (mergedSchema(perFile), driftReport(spark, perFile))
  }
}
