package graft.inference

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Parquet-FOOTER fast path for numeric profiling: decide a numeric
  * column's profile — and therefore its int4/int8/float8 inference
  * (RedshiftAutoSchema.py:315-321 semantics) — from row-group metadata
  * alone, with ZERO data-reading stages. String-typed (and any
  * non-eligible) columns fall back to the fused aggregation scan,
  * which then prunes to exactly those columns.
  *
  * Soundness (each rule verified against parquet-mr-written files):
  *   - int32/int64 (signed, incl. INT(8/16/32/64) annotations): values
  *     are integers by construction, so `integral` holds whenever any
  *     value exists; footer min/max are exact; `nonNull` =
  *     Σ(rows − num_nulls); bool-domain ⇔ min ≥ 0 ∧ max ≤ 1 (there is
  *     no other integer in [0, 1]). Fully decidable from stats.
  *   - float/double: parquet-mr OMITS min/max for a chunk containing
  *     NaN (hasNonNullValue=false with num_nulls < rows — observed
  *     live: an all-NaN chunk reports `num_nulls: 0, min/max not
  *     defined`), so stats-present ⇒ NaN-free ⇒ num_nulls is exactly
  *     the profiler's NaN-masked null count. A column is decided from
  *     the footer only when its global min or max is NON-integral —
  *     one non-integral value proves `integral = false` and lands
  *     float8 regardless of every unseen row. Integral-looking
  *     min/max prove nothing about interior rows → fused scan.
  *   - every other physical/logical type (strings, timestamps, dates,
  *     decimals, unsigned ints, nested) → fused scan.
  *
  * 100 TB shape: footers are KB-sized regardless of data volume;
  * k files → k footer reads through a bounded thread pool (no Spark
  * job, no executor involvement). A landing arrival reads each footer
  * once for both schema and statistics ([[fromFooters]], called by
  * [[ParquetFooters.profileChildren]]). The scan fallback reads only the
  * undecided columns (columnar pruning), so the fast path strictly
  * removes I/O. */
object FooterProfiler {

  /** One column's footer evidence, aggregated across row groups. */
  private final case class ColAgg(
      var rows: Long = 0L,          // values seen by chunks with usable stats
      var nulls: Long = 0L,
      var min: Double = Double.PositiveInfinity,
      var max: Double = Double.NegativeInfinity,
      var hasValues: Boolean = false,
      var usable: Boolean = true)   // false once any chunk lacks evidence

  /** Footer-only profiles for a parquet path, positionally matched to
    * `schema` (the Spark schema of the unfiltered read of `path` —
    * names may have been renamed, so matching is by ordinal).
    *
    * Returns None when footers can't speak for the whole table (schema
    * drift across files, field-count mismatch, zero files). Otherwise
    * `(totalRows, perColumn)` where perColumn(i) is Some(profile) iff
    * column i is fully decided by metadata. */
  def footerProfiles(spark: SparkSession, path: String,
                     schema: StructType,
                     parallelism: Int = 8): Option[(Long, Seq[Option[ColumnProfile]])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    def dataFiles(st: FileStatus): Seq[FileStatus] =
      if (ParquetFooters.hidden(st.getPath)) Seq.empty
      else if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.flatMap(dataFiles)
      else if (st.getLen > 0) Seq(st)
      else Seq.empty
    val files = dataFiles(fs.getFileStatus(root))
    if (files.isEmpty) None
    else fromFooters(ParquetFooters.bounded(files, parallelism)(
      ParquetFooters.readFooter(conf, _)), schema)
  }

  /** [[footerProfiles]] from footers already read: those of every data
    * file of one table, `schema` its Spark schema. */
  def fromFooters(footers: Seq[ParquetMetadata], schema: StructType)
      : Option[(Long, Seq[Option[ColumnProfile]])] = {
    val n = schema.fields.length
    val aggs = Array.fill(n)(ColAgg())
    var totalRows = 0L
    var refSchema: org.apache.parquet.schema.MessageType = null

    for (footer <- footers) {
      val msg = footer.getFileMetaData.getSchema
      if (refSchema == null) refSchema = msg
      else if (refSchema != msg) return None // heterogeneous → scan path
      if (msg.getFieldCount != n) return None
      footer.getBlocks.forEach { block =>
        totalRows += block.getRowCount
        val cols = block.getColumns
        var i = 0
        while (i < cols.size()) {
          val c = cols.get(i)
          // top-level ordinal: column chunks appear in schema order for
          // flat schemas; nested paths (length > 1) are never eligible
          val cpath = c.getPath.toArray
          val numericPrim = c.getPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
                 PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => true
            case _ => false
          }
          if (cpath.length == 1) {
            val ord = msg.getFieldIndex(cpath(0))
            if (ord >= 0 && ord < n) {
              val a = aggs(ord)
              val st = c.getStatistics
              if (!numericPrim || st == null || !st.isNumNullsSet)
                a.usable = false
              else {
                a.rows += block.getRowCount
                a.nulls += st.getNumNulls
                if (st.hasNonNullValue) {
                  val mn = st.genericGetMin.asInstanceOf[Number].doubleValue()
                  val mx = st.genericGetMax.asInstanceOf[Number].doubleValue()
                  if (mn.isNaN || mx.isNaN) a.usable = false
                  else {
                    a.min = math.min(a.min, mn)
                    a.max = math.max(a.max, mx)
                    a.hasValues = true
                  }
                } else if (st.getNumNulls < block.getRowCount) {
                  // no min/max yet values exist: NaN-poisoned floating
                  // chunk (or stats suppressed) — no footer evidence
                  a.usable = false
                }
              }
            }
          }
          i += 1
        }
      }
    }
    if (refSchema == null) return None

    val perCol = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val pqField = refSchema.getFields.get(i)
      val a = aggs(i)
      if (!a.usable || !pqField.isPrimitive) None
      else {
        val prim = pqField.asPrimitiveType()
        val ann = prim.getLogicalTypeAnnotation
        val signedInt = ann == null || (ann match {
          case ia: IntLogicalTypeAnnotation => ia.isSigned
          case _                            => false
        })
        val intPhysical =
          (prim.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
            prim.getPrimitiveTypeName == PrimitiveTypeName.INT64) && signedInt
        val floatPhysical = ann == null &&
          (prim.getPrimitiveTypeName == PrimitiveTypeName.FLOAT ||
            prim.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE)
        val sparkIntegral = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _                                             => false
        }
        val sparkFloating = f.dataType match {
          case FloatType | DoubleType => true
          case _                      => false
        }
        val nonNull = a.rows - a.nulls
        def base = ColumnProfile(
          field = f.name, sourceType = f.dataType,
          identifier = f.name.endsWith("_id"),
          nonNull = nonNull,
          boolDomain = false,
          numericCount = nonNull, intCount = nonNull,
          integral = false,
          minD = if (a.hasValues) Some(a.min) else None,
          maxD = if (a.hasValues) Some(a.max) else None,
          tsCount = 0L, allMidnight = false, maxLen = None,
          complex = false, bigObjCount = 0L)
        if (intPhysical && sparkIntegral) {
          // ints: integral ⇔ any value exists (bool_and over empty
          // coalesces false in the scan); bool domain from the range
          Some(base.copy(
            integral = nonNull > 0L,
            boolDomain = nonNull > 0L && a.hasValues &&
              a.min >= 0d && a.max <= 1d))
        } else if (floatPhysical && sparkFloating && a.hasValues &&
            (a.min != math.floor(a.min) || a.max != math.floor(a.max))) {
          // floating: a non-integral extremum proves integral=false →
          // float8; stats-present ⇒ NaN-free ⇒ counts exact
          Some(base)
        } else None
      }
    }
    Some((totalRows, perCol))
  }
}
