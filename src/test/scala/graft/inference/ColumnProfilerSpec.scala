package graft.inference

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.time.{OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

/** The melted all-string profiler against the wide per-column
  * aggregate it replaces for string frames: equal row counts and
  * equal [[ColumnProfile]]s, column for column, on generated frames. */
class ColumnProfilerSpec extends SparkSpec {

  /** RDD-backed, so the optimizer cannot fold the views into a local
    * relation: both paths run as they do on scanned files. */
  private def frame(names: Seq[String], rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(r)), 2),
      StructType(names.map(StructField(_, StringType))))

  private def assertSame(df: DataFrame): Unit = {
    val (wideRows, wide) = ColumnProfiler.profileWide(df)(ColumnProfiler.Unkeyed)
    val (meltRows, melt) = ColumnProfiler.profileMelted(df)(ColumnProfiler.Unkeyed)
    assert(meltRows == wideRows)
    assert(melt.size == wide.size)
    melt.zip(wide).foreach { case (m, w) =>
      assert(m == w, s"column ${w.field}")
    }
  }

  private val naTokens = Seq("", "#N/A", "N/A", "NA", "NULL", "None",
    "n/a", "null", "<NA>", "-nan", "1.#IND")
  private val nanInf = Seq("NaN", "nan", "inf", "-inf", "Infinity",
    "-Infinity", "INF")
  private val bigInts = Seq(
    "9007199254740991", "9007199254740992", "9007199254740993", // 2⁵³
    "-9007199254740993",
    "9223372036854775807", "9223372036854775808",               // 2⁶³
    "-9223372036854775808", "-9223372036854775809",
    "18446744073709551615", "18446744073709551616",             // 2⁶⁴
    "123456789012345678901234567890123456789012", " 42 ", "+7")
  private val instant = OffsetDateTime.of(2020, 1, 5, 10, 11, 12,
    123456000, ZoneOffset.ofHours(2))
  private val tsValues: Seq[String] =
    (ColumnProfiler.sparkTsFormats.flatMap { f =>
      val fmt = DateTimeFormatter.ofPattern(f, Locale.US)
      Seq(instant.format(fmt), instant.withHour(0).withMinute(0)
        .withSecond(0).withNano(0).format(fmt))
    } ++ Seq("2020-01-05T10:11:12+02:00", "2020-01-05T10:11:12.5Z",
      "2020-01-05 10:11:12.123456789", "March", "12:30")).distinct
  private val plain = Seq("0", "1", "true", "F", "t", "-3", "2.5", "1e3",
    "hello", "x" * 300, "007", "1.0")

  /** One column drawn from a pool, with nulls mixed in. */
  private def column(rnd: scala.util.Random, pool: Seq[String],
                     n: Int): Seq[String] =
    Seq.fill(n)(if (rnd.nextInt(5) == 0) null else pool(rnd.nextInt(pool.size)))

  test("melted == wide on NA tokens, NaN/inf, big integers and datetimes") {
    val rnd = new scala.util.Random(11)
    val pools = Seq(naTokens ++ Seq("1", "2"), nanInf ++ Seq("3", "4.5"),
      nanInf, bigInts, bigInts.take(4) ++ Seq("5"), tsValues,
      tsValues.take(6), plain, plain ++ tsValues ++ bigInts ++ nanInf,
      Seq("1", "0"), Seq("2020-01-05", "2020-02-29"))
    for (trial <- 0 until 3) {
      val n = 40 + trial * 30
      val cols = pools.map(p => column(rnd, p, n))
      val names = pools.indices.map(i => if (i % 3 == 0) s"c${i}_id" else s"c$i")
      assertSame(frame(names, cols.transpose))
    }
  }

  test("melted == wide: every format value alone, and the all-null column") {
    val cols = Seq(tsValues, Seq.fill(tsValues.size)(null),
      tsValues.map(v => if (v.startsWith("2020")) v else null))
    assertSame(frame(Seq("ts", "nothing", "iso"), cols.transpose))
    // each value alone in its own column of a one-row frame
    assertSame(frame(tsValues.indices.map(i => s"one$i"), Seq(tsValues)))
  }

  test("melted == wide on 0 rows and on a single column") {
    assertSame(frame(Seq("a", "b_id"), Seq.empty))
    val (rows, empty) = ColumnProfiler.profileMelted(frame(Seq("a"), Seq.empty))(
      ColumnProfiler.Unkeyed)
    assert(rows == 0L && empty.map(_.nonNull) == Seq(0L))
    assertSame(frame(Seq("only"), bigInts.map(Seq(_))))
  }

  test("melted == wide on names with dots, backticks and clashing names") {
    val names = Seq("a.b", "c`d", "e f", "pos", "x", "`x`", "v0_c", "p0_nn")
    val rnd = new scala.util.Random(3)
    val cols = names.map(_ => column(rnd, plain ++ nanInf, 25))
    assertSame(frame(names, cols.transpose))
  }

  test("melted == wide above 256 columns; job count does not grow with width") {
    val rnd = new scala.util.Random(5)
    val pool = plain ++ nanInf ++ bigInts ++ tsValues.take(4)
    val width = 300
    val cols = (0 until width).map(_ => column(rnd, pool, 12))
    val df = frame((0 until width).map(i => s"w$i"), cols.transpose)
    assertSame(df)
    val narrow = frame(Seq("a", "b"), Seq(Seq("1", "x"), Seq("2", null)))
    val wide120 = frame((0 until 120).map(i => s"w$i"),
      cols.take(120).transpose)
    val (_, jobs2) = countJobs(ColumnProfiler.profileWithCount(narrow))
    val (_, jobs120) = countJobs(ColumnProfiler.profileWithCount(wide120))
    // the wide path would split 300 columns into two chunked jobs
    val (_, jobs300) = countJobs(ColumnProfiler.profileWithCount(df))
    assert(jobs120 == jobs2, s"120 columns ran $jobs120 jobs, 2 ran $jobs2")
    assert(jobs300 == jobs2, s"300 columns ran $jobs300 jobs, 2 ran $jobs2")
  }
}
