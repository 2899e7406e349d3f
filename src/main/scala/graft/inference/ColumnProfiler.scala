package graft.inference

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics needed by the type-inference cascade.
  *
  * One instance per column, produced by [[ColumnProfiler.profile]] from a
  * SINGLE fused aggregation pass over the whole DataFrame (SURVEY.md §4:
  * the reference makes up to ~6 full scans per column,
  * RedshiftAutoSchema.py:306-339; we fuse every check for every column
  * into one distributed partial+final hash aggregate, so only this stats
  * record — never raw data — reaches the driver; 100 TB-safe).
  */
final case class ColumnProfile(
    field: String,
    sourceType: DataType,
    identifier: Boolean,      // name ends "_id" → bool check disabled (RAS:255,311)
    nonNull: Long,            // count of non-null values (RAS:306,309)
    boolDomain: Boolean,      // ∀ str(x).lower() ∈ {true,false,t,f,0,1} (RAS:311)
    numericCount: Long,       // count of float-castable values (RAS:315)
    intCount: Long,           // count of non-NaN numeric values — the rows
                              // integral/min/max actually see ('NaN' strings
                              // are numeric-castable but masked from them)
    integral: Boolean,        // ∀ x == floor(x), finite (RAS:317)
    minD: Option[Double],     // numeric min (RAS:318)
    maxD: Option[Double],     // numeric max (RAS:318)
    tsCount: Long,            // count of complete-datetime-parseable values (RAS:328-330)
    allMidnight: Boolean,     // ∀ ts == date_trunc(day, ts) (RAS:331)
    maxLen: Option[Long],     // max stringified length (RAS:336)
    complex: Boolean,         // array/map/struct/binary source (extension; no reference rule)
    bigObjCount: Long = 0L    // string source only: integer literals beyond
                              // pandas' int64∪uint64 parse range — read_csv
                              // keeps the column `object` and the reference's
                              // astype(int) OverflowError lands varchar
                              // (live-verified; see aggsFor)
) {
  /** Merge with another profile of the same column (e.g. a later
    * micro-batch). Every statistic is a semigroup (sums, ANDs,
    * min/max), so merged inference ≡ inference over the union —
    * the basis of incremental/streaming schema inference and of
    * scale-out profile aggregation. */
  def merge(o: ColumnProfile): ColumnProfile = {
    require(field == o.field, s"cannot merge $field with ${o.field}")
    def mo(f: (Double, Double) => Double)(a: Option[Double],
                                          b: Option[Double]) =
      (a, b) match {
        case (Some(x), Some(y)) => Some(f(x, y))
        case (x, y)             => x.orElse(y)
      }
    def ml(a: Option[Long], b: Option[Long]) = (a, b) match {
      case (Some(x), Some(y)) => Some(math.max(x, y))
      case (x, y)             => x.orElse(y)
    }
    // forall-stats hold vacuously on empty sides: AND only when both
    // sides have rows contributing to that check
    def andIf(aCount: Long, aVal: Boolean, bCount: Long, bVal: Boolean) =
      (aCount == 0L || aVal) && (bCount == 0L || bVal)
    ColumnProfile(field, sourceType, identifier,
      nonNull = nonNull + o.nonNull,
      boolDomain = andIf(nonNull, boolDomain, o.nonNull, o.boolDomain),
      numericCount = numericCount + o.numericCount,
      intCount = intCount + o.intCount,
      // keyed on intCount, NOT numericCount: an all-'NaN'-string batch
      // has numericCount > 0 but contributes no rows to the integral
      // check, and must not poison the AND (merge ≡ direct profiling)
      integral = andIf(intCount, integral, o.intCount, o.integral),
      minD = mo(math.min)(minD, o.minD),
      maxD = mo(math.max)(maxD, o.maxD),
      tsCount = tsCount + o.tsCount,
      allMidnight = andIf(tsCount, allMidnight, o.tsCount, o.allMidnight),
      maxLen = ml(maxLen, o.maxLen),
      complex = complex || o.complex,
      bigObjCount = bigObjCount + o.bigObjCount)
  }
}

object ColumnProfiler {

  /** Accepted datetime formats. Every pattern requires an explicit
    * year+month+day, which subsumes the reference's "complete date" check
    * (RedshiftAutoSchema.py:329: dateutil double-parse demotes partial
    * dates like "March" or "12:30" to varchar(256)) — partial dates fail
    * every format AND the guarded default-parse fallback in [[tsExpr]]
    * (which requires a yyyy-MM-dd prefix), so they fall through to the
    * varchar rule. Coverage = ISO date/datetime (space or 'T' separator,
    * optional fraction, optional zone/offset via the fallback), slash and
    * dotted dates with and without time, and English month-name dates
    * (month-first and day-first, with and without time); exotic
    * dateutil-only spellings beyond these demote to varchar — documented
    * divergence, see TypeInference's scaladoc.
    * Order: most specific first (try_to_timestamp requires a full match).
    * LOCKSTEP CONTRACT: every entry here has a try_strptime twin in
    * InferenceOracle.tsParse (same acceptance set, same order), and the
    * guarded default-parse fallback in [[tsExpr]] is mirrored there by
    * explicit %z/offset entries — edit both files together.
    */
  val sparkTsFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "yyyy.MM.dd HH:mm:ss",
    "yyyy.MM.dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm",
    "MM/dd/yyyy",
    "MMM d yyyy HH:mm:ss",
    "MMM d, yyyy HH:mm:ss",
    "MMMM d yyyy HH:mm:ss",
    "MMMM d, yyyy HH:mm:ss",
    "MMM d yyyy",
    "MMM d, yyyy",
    "MMMM d yyyy",
    "MMMM d, yyyy",
    "d MMM yyyy HH:mm:ss",
    "d MMMM yyyy HH:mm:ss",
    "d MMM yyyy",
    "d MMMM yyyy"
  )

  /** Coarse source-type kinds that determine which checks can apply —
    * mirroring how pandas dtypes steer the reference's cascade (e.g.
    * astype(float) on datetime64 raises → datetime columns never test
    * numeric, RedshiftAutoSchema.py:315). */
  sealed trait Kind
  case object NullKind extends Kind
  case object BoolKind extends Kind
  case object NumKind extends Kind        // integral + floating + decimal
  case object TsKind extends Kind         // timestamp / timestamp_ntz
  case object DateKind extends Kind
  case object StrKind extends Kind
  case object ComplexKind extends Kind    // array/map/struct/binary (extension)

  def kindOf(dt: DataType): Kind = dt match {
    case NullType                                       => NullKind
    case BooleanType                                    => BoolKind
    case _: ByteType | _: ShortType | _: IntegerType |
         _: LongType | _: FloatType | _: DoubleType |
         _: DecimalType                                 => NumKind
    case _: TimestampType | _: TimestampNTZType         => TsKind
    case _: DateType                                    => DateKind
    case _: StringType | _: VarcharType | _: CharType   => StrKind
    case _                                              => ComplexKind
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Superset pre-filter for [[sparkTsFormats]]: any string a format (or
    * the ISO fallback) could accept matches this regex. The guard exists
    * for THROUGHPUT, not semantics — try_to_timestamp failure is
    * exception-driven (~µs per miss), so without it a 100 TB string
    * column pays |formats| exceptions per value; with it, non-date-shaped
    * strings short-circuit on a codegen'd regex. Keep in sync with
    * sparkTsFormats. */
  private val dateShaped =
    "^(\\d{4}[-/.]\\d{1,2}[-/.]\\d{1,2}|\\d{2}/\\d{2}/\\d{4}|[A-Za-z]{3,9} \\d{1,2},? \\d{4}|\\d{1,2} [A-Za-z]{3,9} \\d{4})"

  /** The datetime view: identity for timestamp/date sources, the strict
    * multi-format parse chain for strings. */
  private def tsExpr(c: Column, kind: Kind): Column = kind match {
    case TsKind   => c
    case DateKind => c.cast(TimestampType)
    case StrKind  =>
      // Explicit format list first; a guarded default-parse fallback
      // (ISO-8601 with offset/zone/'T'/fractional variants) covers the
      // long tail — guarded by a date-shaped prefix so partial values
      // like "March" or "12:30" can never sneak through it.
      when(c.rlike(dateShaped),
        coalesce(
          (sparkTsFormats.map(f => try_to_timestamp(c, lit(f))) :+
            when(c.rlike("^\\d{4}-\\d{2}-\\d{2}"), try_to_timestamp(c))): _*))
    case _        => lit(null).cast(TimestampType)
  }

  /** All aggregate expressions for one column, flat-aliased `p{i}_*`.
    *
    * NaN semantics (pandas treats floating NaN as null — isnull/dropna at
    * RAS:306-309 — while Spark NaN is an ordinary value):
    *   - floating/decimal sources: NaN rows are masked out of the BASE
    *     column, so every aggregate (nonNull included) sees them as null;
    *     an all-NaN column is notype, a float col with NaN stays float8.
    *   - string sources: Python float('nan') SUCCEEDS, so 'NaN' strings
    *     count as numeric-castable (numericCount) but are excluded from
    *     integral/min/max: mixed NaN+ints → int4, all-'NaN' → float8
    *     (no integral evidence → the float default). DELIBERATE
    *     divergence from the reference's object-dtype path, which lands
    *     varchar(256) for both (exception hops out of RAS:315-318;
    *     verified live 2026-08-12): we apply NaN-as-null uniformly —
    *     the round-1 ADVICE design and the behavior of the reference's
    *     PRIMARY path (pandas.read_csv parses 'NaN' to null before its
    *     inference ever runs). The facade's CSV loader nulls NA tokens
    *     the same way, so the divergence is observable only for literal
    *     'NaN' strings inside parquet columns.
    */
  /** Per-row derived views for one column — the base (NaN-masked for
    * floats), the numeric-castable view, the numeric-stats view, and
    * the datetime view — aliased `v{i}_{c,dc,d,t}` and computed in ONE
    * projection under the aggregate. Catalyst does not share subtrees
    * ACROSS aggregate expressions, so referencing these from [[aggsFor]]
    * by name (instead of inlining the trees) is what keeps the guarded
    * numeric cast and the datetime chain at one evaluation per row —
    * inlined, the guard regex ran ~8× per string value and full-table
    * inference measured ~1.7× slower. CollapseProject leaves multi-use
    * non-cheap aliases in place, so the projection survives
    * optimization. It fuses with the aggregate in one codegen stage only
    * while the aggregate has at most `spark.sql.codegen.maxFields` (100)
    * fields: always on the melted path, up to 9 columns on the wide one. */
  private def viewsFor(i: Int, name: String, dt: DataType): Seq[Column] = {
    val kind = kindOf(dt)
    val raw = col(quote(name)) // backtick-quoted: names may contain any char
    val (c, dCount, d) = kind match {
      case NumKind =>
        val cd = raw.cast(DoubleType)
        val masked = when(!isnan(cd), raw)
        val md = masked.cast(DoubleType)
        (masked, md, md)
      case BoolKind =>
        (raw, raw.cast(DoubleType), raw.cast(DoubleType))
      case StrKind =>
        // Guard the exception-driven parse with a cheap superset regex:
        // anything double-castable contains a digit or an inf/nan
        // spelling, so guarded-out values are exactly the unparseable
        // ones (same nulls, ~µs exception per miss avoided; measured
        // 2.0 s/1.2M unparseable values unguarded vs 0.26 s guarded).
        val tc = when(raw.rlike("[0-9]|(?i:inf)|(?i:nan)"),
          expr(s"try_cast(${quote(name)} AS DOUBLE)"))
        (raw, tc, when(!isnan(tc), tc))
      case _ =>
        (raw, lit(null).cast(DoubleType), lit(null).cast(DoubleType))
    }
    Seq(c.as(s"v${i}_c"), dCount.as(s"v${i}_dc"), d.as(s"v${i}_d"),
      tsExpr(c, kind).as(s"v${i}_t"))
  }

  private def aggsFor(i: Int, dt: DataType): Seq[Column] = {
    val kind = kindOf(dt)
    val c = col(s"v${i}_c")
    val dCount = col(s"v${i}_dc")
    val d = col(s"v${i}_d")
    // Bool-domain check WITHOUT per-row stringification where the string
    // rendering is statically decidable (throughput: rendering every
    // double/timestamp to text just to .isin() it dominates the scan):
    //   - string source: lower(c) ∈ domain (no cast — already a string)
    //   - integral ints / scale-0 decimals: str(x) renders bare digits in
    //     both pandas and Spark, so domain membership ⇔ value ∈ {0,1}
    //   - bool source: str renders 'true'/'false' → always in domain
    //   - floating (renders '1.0'), timestamp/date (renders '…-…'): never
    val domainHit: Column = kind match {
      case StrKind  => lower(c).isin("true", "false", "t", "f", "0", "1")
      case BoolKind => lit(true)
      case NumKind => dt match {
        case ByteType | ShortType | IntegerType | LongType => c.isin(0, 1)
        case dec: DecimalType if dec.scale == 0            => c.isin(0, 1)
        case _                                             => lit(false)
      }
      case _ => lit(false)
    }
    val t = col(s"v${i}_t")
    // max stringified length is only consulted when the cascade lands in
    // the varchar branch — impossible for numeric/bool/ts/date sources
    // (their numeric- or ts-count always equals nonNull), so only string
    // sources pay for it.
    val lenExpr: Column =
      if (kind == StrKind) length(c) else lit(null).cast(IntegerType)
    // Integralness — the reference compares astype(float) with
    // astype(int) (RAS:317), whose behavior depends on the pandas dtype
    // (all live-verified 2026-08-12 against pandas 2.2.2):
    //   - int64 source: the comparison promotes int64 → float64, so it
    //     is ALWAYS equal — even 2⁵³+1, whose float rendering differs
    //     from the exact int, compares equal after promotion → int8.
    //     (The round-4 review's float8 premise holds only for object
    //     dtype, which read_csv never produces for numeric text.)
    //   - float64 source: astype(int) is an int64 conversion — exact
    //     for integral values in [−2⁶³, 2⁶³), overflow garbage at or
    //     beyond ±2⁶³ (1e30 → float8, +2⁶³ → float8, −2⁶³ → int8).
    //   - string source (CSV path): read_csv pre-parses integer
    //     literals to int64 when they fit (so "9007199254740993" and
    //     "9223372036854775807" are int8 — exactness the double cast
    //     alone can't see near 2⁶³, hence the decimal(38,0) test), to
    //     uint64 for [2⁶³, 2⁶⁴) (astype(int) wraps → unequal → float8),
    //     and to `object` beyond (→ bigObj below → varchar). Non-integer
    //     numeric literals become float64 → the float64 rule.
    val int64Lo = lit(-9.223372036854776e18) // −2⁶³ exactly
    val int64Hi = lit(9.223372036854776e18)  // +2⁶³ exactly (exclusive)
    val floatIntegral = d === floor(d) && d >= int64Lo && d < int64Hi
    // 2⁵³: below this magnitude every integer-valued double is exact,
    // so the plain float test IS the exact test. The regex + decimal
    // parse below are per-value costs that measured 2.5× on full-table
    // inference when run unconditionally (q02 1.7 s → 4.4 s) — the
    // `when` guards keep them off the codegen hot path, executing only
    // for the vanishingly rare magnitudes at/beyond 2⁵³ (and
    // non-double-castable giants, where d is null/Infinity and the
    // guard also falls through to the exact branch).
    val twoTo53 = lit(9.007199254740992e15)
    val intLit: Column =
      if (kind == StrKind) c.rlike("^\\s*[+-]?[0-9]+\\s*$") else lit(false)
    val decOfStr: Column =
      if (kind == StrKind) expr(s"try_cast(v${i}_c AS DECIMAL(38,0))")
      else lit(null).cast(DecimalType(38, 0))
    val finiteIntegral = kind match {
      case StrKind =>
        val inInt64 = decOfStr.isNotNull &&
          decOfStr >= lit(Long.MinValue) && decOfStr <= lit(Long.MaxValue)
        when(abs(d) < twoTo53, d === floor(d))
          .otherwise(when(intLit, inInt64).otherwise(floatIntegral))
      case NumKind => dt match {
        case FloatType | DoubleType => floatIntegral
        // integral/decimal sources: conversion is exact, no clamp
        case _ => d === floor(d) && abs(d) =!= lit(Double.PositiveInfinity)
      }
      case _ => d === floor(d) && abs(d) =!= lit(Double.PositiveInfinity)
    }
    // Integer literal the pandas CSV parser can hold in NO machine
    // integer (outside int64 ∪ uint64, or over 38 digits): the column
    // stays `object`, astype(int) raises OverflowError, and the
    // reference falls through datetime (always fails for these) to the
    // varchar length rule. TypeInference diverts on bigObjCount > 0.
    // Same 2⁵³ guard: below it an integer literal always fits int64,
    // so bigObj is statically false on the hot path.
    val bigObj: Column =
      if (kind != StrKind) lit(false)
      else when(abs(d) < twoTo53, lit(false))
        .otherwise(intLit && !(decOfStr.isNotNull &&
          decOfStr >= lit(Long.MinValue) &&
          decOfStr <= lit(new java.math.BigDecimal("18446744073709551615"))))
    Seq(
      count(c).as(s"p${i}_nn"),
      coalesce(bool_and(domainHit), lit(false)).as(s"p${i}_bool"),
      count(dCount).as(s"p${i}_num"),
      count(d).as(s"p${i}_intc"),
      coalesce(bool_and(finiteIntegral), lit(false)).as(s"p${i}_int"),
      min(d).as(s"p${i}_min"),
      max(d).as(s"p${i}_max"),
      count(t).as(s"p${i}_ts"),
      coalesce(bool_and(t === date_trunc("DAY", t)), lit(false))
        .as(s"p${i}_mid"),
      max(lenExpr).as(s"p${i}_len"),
      count(when(bigObj, lit(1))).as(s"p${i}_bigobj")
    )
  }

  /** Profile every column of `df`.
    *
    * A frame of two or more columns, all strings, is melted by
    * [[profileMelted]]: the string views and aggregates exist once,
    * whatever the column count, so it runs in one job at any width.
    * Such frames are the facade's delimited and JSON loads, the string
    * remainder [[profileParquetWithCount]] scans once the footers decide
    * the numeric columns, and all-string streaming micro-batches. Any
    * other frame runs [[profileWide]] in `ceil(cols / 256)` jobs.
    * Either way the aggregate is associative+commutative → map-side
    * partial aggregation, no shuffle of raw rows; only stats rows reach
    * the driver.
    */
  def profile(df: DataFrame): Seq[ColumnProfile] = profileWithCount(df)._2

  /** Deterministic SAMPLED profiling: profile only the md5 slice
    * `hashBucket(idCol) < pct` (graft.operators.Curation.hashBucket —
    * the same 4-hex-digit %100 arithmetic every sampler oracle
    * replays), so the slice is reproducible under any partitioning,
    * any cluster size, any row order.
    *
    * One-sided guarantee (the spec-pinned monotonicity property):
    * the sampled column's inferred type ⊑ the full type on the
    * widening lattice — profiling the rest of the rows can only WIDEN
    * (notype → bool → int4 → int8 → float8 → varchar), never narrow.
    * Same exclusions as the monotonicity property: notype and the
    * all-'NaN' float8 are DEFAULTS (no evidence), not lattice points.
    * Use for cheap first-pass schema proposals over huge landing
    * tables; confirm with a full profile before locking a DDL. */
  def profileSampledWithCount(df: DataFrame, idCol: String, pct: Int)
      : (Long, Seq[ColumnProfile]) = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1, 100]: $pct")
    profileWithCount(
      df.filter(graft.operators.Curation.hashBucket(col(quote(idCol))) < pct))
  }

  /** [[profileWithCount]] with the parquet-footer fast path: numeric
    * columns whose row-group statistics fully determine their profile
    * ([[FooterProfiler]] — exact parity argued there) are decided from
    * metadata alone; only the undecided columns go through the fused
    * aggregation scan, which prunes to exactly those columns. An
    * all-numeric table profiles with ZERO data-reading stages
    * (spec-pinned by a job-count assertion). A remainder of two or more
    * string columns profiles melted, like a CSV frame: measured equal
    * or faster from 2 columns up (4 cores: 1.4× at 200k rows × 6
    * columns, 1.9× at 50k × 30). Falls back to the full scan whenever
    * footers can't speak for the table. */
  def profileParquetWithCount(spark: org.apache.spark.sql.SparkSession,
                              path: String, df: DataFrame)
      : (Long, Seq[ColumnProfile]) =
    FooterProfiler.footerProfiles(spark, path, df.schema) match {
      case Some((rows, perCol)) if rows > 0L && perCol.exists(_.isDefined) =>
        val fields = df.schema.fields.toSeq
        val undecided = fields.zip(perCol).collect { case (f, None) => f.name }
        val scanned: Map[String, ColumnProfile] =
          if (undecided.isEmpty) Map.empty
          else profile(df.select(undecided.map(n => col(quote(n))): _*))
            .map(p => p.field -> p).toMap
        (rows, fields.zip(perCol).map {
          case (_, Some(p)) => p
          case (f, None)    => scanned(f.name)
        })
      case _ => profileWithCount(df)
    }

  /** Like [[profile]] but also returns the exact row count, folded into
    * the same single pass (reference: empty file → metadata None,
    * RedshiftAutoSchema.py:243-245 — we detect it with no extra job). */
  def profileWithCount(df: DataFrame): (Long, Seq[ColumnProfile]) = {
    val fields = df.schema.fields.toSeq
    if (fields.isEmpty) (0L, Seq.empty)
    // one column has no expression set to share: melting it only adds
    // the generator and a keyed shuffle (measured 14–38 % slower)
    else if (fields.size > 1 && fields.forall(f => kindOf(f.dataType) == StrKind))
      profileMelted(df)
    else profileWide(df)
  }

  /** Columns per [[profileWide]] job: one job up to 256 columns. */
  private val maxColsPerJob = 256

  /** One wide aggregate per chunk of `maxColsPerJob` columns: views and
    * aggregates repeat per column, `p{i}_*` for the i-th column of the
    * chunk. Typed columns need their own per-kind expressions, so mixed
    * and typed frames profile here. Each job's scan prunes to exactly
    * its chunk's columns (columnar Parquet), so chunking very wide
    * tables costs no extra total I/O. Above `spark.sql.codegen.maxFields`
    * (100) output fields — past 9 columns — the aggregate runs outside
    * whole-stage codegen (interpreted `TungstenAggregationIterator`),
    * so the per-column expression set costs both planning and
    * execution time as the width grows. */
  private[inference] def profileWide(df: DataFrame)
      : (Long, Seq[ColumnProfile]) = {
    val fields = df.schema.fields.toSeq
    if (fields.isEmpty) return (0L, Seq.empty)
    var rows = -1L
    val profiles = fields.grouped(maxColsPerJob).toSeq.flatMap { chunk =>
      val views = chunk.zipWithIndex.flatMap { case (f, i) =>
        viewsFor(i, f.name, f.dataType)
      }
      val aggs = count(lit(1)).as("p_rows") +:
        chunk.zipWithIndex.flatMap { case (f, i) =>
          aggsFor(i, f.dataType)
        }
      val row = df.select(views: _*).agg(aggs.head, aggs.tail: _*).collect()(0)
      rows = row.getAs[Long]("p_rows")
      chunk.zipWithIndex.map { case (f, i) => decode(f, Some(row), i) }
    }
    (rows, profiles)
  }

  /** All-string frames: melt to a (pos, x) stream with
    * `posexplode(array(cols))` and aggregate `groupBy(pos)` over ONE
    * set of string views and aggregates for `x`. The expression set —
    * regex guards, try_casts and the |sparkTsFormats|-format datetime
    * chain — is planned and compiled once per call instead of once per
    * column, and the aggregate (pos + 12 fields) stays inside
    * whole-stage codegen at any width. Still one aggregation per call:
    * the partial aggregate holds `width` groups per task, so only
    * `width` stats rows per task cross the shuffle, never raw rows.
    * Typed frames stay on [[profileWide]]: melting only their string
    * columns and carrying the rest through the generator measured
    * neutral to 1.5× slower. So does a single string column, which has
    * nothing to share. */
  private[inference] def profileMelted(df: DataFrame)
      : (Long, Seq[ColumnProfile]) = {
    val fields = df.schema.fields.toSeq
    // the cast gives char/varchar/collated columns one array element type
    val melted = df.select(posexplode(array(fields.map(f =>
      col(quote(f.name)).cast(StringType)): _*)).as(Seq("pos", "x")))
    val aggs = count(lit(1)).as("p_rows") +: aggsFor(0, StringType)
    val byPos = melted.select(col("pos") +: viewsFor(0, "x", StringType): _*)
      .groupBy("pos").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    // empty input has no groups: every column decodes to the defaults
    // the global aggregate of the wide path returns on zero rows
    val rows = byPos.headOption.fold(0L)(_._2.getAs[Long]("p_rows"))
    (rows, fields.zipWithIndex.map { case (f, i) => decode(f, byPos.get(i), 0) })
  }

  /** One column's [[ColumnProfile]] from the `p{i}_*` fields of an
    * aggregate row; `None` (no row for the column) decodes to the
    * zero-row aggregate: zero counts, false flags, no min/max/len. */
  private def decode(f: StructField, row: Option[Row], i: Int): ColumnProfile = {
    def opt[T](suffix: String): Option[T] = row.flatMap { r =>
      val idx = r.fieldIndex(s"p${i}_$suffix")
      if (r.isNullAt(idx)) None else Some(r.getAs[T](idx))
    }
    def n(suffix: String): Long = opt[Long](suffix).getOrElse(0L)
    def b(suffix: String): Boolean = opt[Boolean](suffix).getOrElse(false)
    ColumnProfile(
      field = f.name,
      sourceType = f.dataType,
      identifier = f.name.endsWith("_id"),
      nonNull = n("nn"),
      boolDomain = b("bool"),
      numericCount = n("num"),
      intCount = n("intc"),
      integral = b("int"),
      minD = opt[Double]("min"),
      maxD = opt[Double]("max"),
      tsCount = n("ts"),
      allMidnight = b("mid"),
      maxLen = opt[Number]("len").map(_.longValue),
      complex = kindOf(f.dataType) == ComplexKind,
      bigObjCount = n("bigobj")
    )
  }
}
