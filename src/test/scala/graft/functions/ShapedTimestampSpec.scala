package graft.functions

import java.time.{OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import graft.SparkSpec
import graft.inference.ColumnProfiler.sparkTsFormats
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** [[ShapedTimestamp]] against the composed chain it replaced in the
  * inference datetime view: a regex guard, then `coalesce` over one
  * `try_to_timestamp` per format and the guarded ISO fallback. Row for
  * row they must agree on a generated corpus, under two session zones
  * and under the legacy parser. */
class ShapedTimestampSpec extends SparkSpec {

  /** The date-shaped guard of the old chain. */
  private val dateShapedRegex =
    "^(\\d{4}[-/.]\\d{1,2}[-/.]\\d{1,2}|\\d{2}/\\d{2}/\\d{4}|[A-Za-z]{3,9} \\d{1,2},? \\d{4}|\\d{1,2} [A-Za-z]{3,9} \\d{4})"
  private val isoRegex = "^\\d{4}-\\d{2}-\\d{2}"

  /** The reference: the composed chain, format by format. */
  private def chain(c: Column): Column =
    when(c.rlike(dateShapedRegex),
      coalesce((sparkTsFormats.map(f => try_to_timestamp(c, lit(f))) :+
        when(c.rlike(isoRegex), try_to_timestamp(c))): _*))

  private val instants: Seq[OffsetDateTime] = Seq(
    OffsetDateTime.of(2020, 1, 5, 10, 11, 12, 123456000, ZoneOffset.ofHours(2)),
    OffsetDateTime.of(1999, 12, 31, 23, 59, 59, 0, ZoneOffset.UTC),
    OffsetDateTime.of(2024, 2, 29, 0, 0, 0, 0, ZoneOffset.ofHours(-8)),
    OffsetDateTime.of(2021, 11, 30, 7, 5, 0, 500000000,
      ZoneOffset.ofHoursMinutes(5, 30))) ++
    // every month, so every month name, on a one- and a two-digit day
    (1 to 12).flatMap(m => Seq(
      OffsetDateTime.of(2023, m, 3, 14, 0, 9, 0, ZoneOffset.UTC),
      OffsetDateTime.of(2023, m, 28, 0, 0, 0, 1000, ZoneOffset.ofHours(-3))))

  private def render(f: String, t: OffsetDateTime): String =
    t.format(DateTimeFormatter.ofPattern(f, Locale.US))

  private val renderings: Seq[(String, String)] =
    for (f <- sparkTsFormats; t <- instants) yield f -> render(f, t)

  private val mixedCase: Seq[String] =
    renderings.map(_._2).filter(_.exists(_.isLetter)).flatMap { v =>
      Seq(v.toUpperCase(Locale.ROOT), v.toLowerCase(Locale.ROOT),
        v.zipWithIndex.map { case (c, i) =>
          if (i % 2 == 0) c.toUpper else c.toLower }.mkString)
    }

  private val fractions: Seq[String] = for {
    sep <- Seq(" ", "T", "t")
    w <- 1 to 9
    zone <- Seq("", "Z", "z", "+05:30", "-08:00", "+0530")
  } yield s"2020-01-05${sep}10:11:12." + ("123456789".take(w)) + zone

  private val edges: Seq[String] = Seq(
    // single-digit fields
    "Jan 5 2020", "5 Jan 2020", "2020-1-5", "2020/1/5", "2020.1.5",
    "1/5/2020", "01/5/2020", "2020-01-5", "2020-1-05", "Jan 05 2020",
    // 29 and 30 February
    "2020-02-29", "2021-02-29", "2020-02-30", "Feb 29 2020",
    "Feb 30, 2020", "30 February 2020", "02/30/2020",
    "2020/02/30 10:00:00", "2020-02-29 23:59:59.999999",
    // offsets and zones
    "2020-01-05T10:11:12Z", "2020-01-05T10:11:12+02:00",
    "2020-01-05T10:11:12-0800", "2020-01-05 10:11:12+02:00",
    "2020-01-05 10:11:12Z", "2020-01-05 10:11:12 UTC",
    "2020-01-05T10:11:12.5z", "2020-01-05t10:11:12",
    "2020-01-05T10:11:12+24:00", "2020-01-05T10:11:12+02",
    "2020-01-05T10:11Z", "2020-01-05T10:11:12[UTC]",
    "2020-01-05 10:11:12 America/Los_Angeles",
    // partial and out-of-range values
    "March", "12:30", "2020", "2020-01", "Jan 2020", "2020-13-01",
    "2020-01-32", "2020-01-05 24:00:00", "2020-01-05 23:60",
    "2020-01-05 10:11:12.", "2020-01-05 10:11:12.1234567890",
    // month names that are not the format's, or near one
    "May 5 2020", "Sept 5 2020", "September 5, 2020 10:11:12",
    "Infinity 5 2020", "NaN 5, 2020", "Janu 5 2020", "Janxyz 5, 2020",
    "5 Mayo 2020", "Auguſt 5 2020", "Aprıl 5 2020", "Kan 5 2020",
    // signs and long years
    "+12020-01-05", "12020-01-05", "-2020-01-05", "Jan 5 12020",
    "5 Jan 20201", "Jan 5 +12020", "01/05/20201", "2020-01-05 1",
    // numbers and text
    "1.5", "2020.01", "1234.5.6", "2020", "-3", "1e3", "0x10",
    "true", "hello", "", " ", "2020-01-05 ", "２０２０-01-05")

  private val padded: Seq[String] =
    (edges.take(12) ++ renderings.map(_._2).take(40)).flatMap(v =>
      Seq(" " + v, v + " ", " " + v + " ", "\t" + v, v + "\n"))

  private val corpus: Seq[String] =
    (renderings.map(_._2) ++ mixedCase ++ fractions ++ edges ++ padded).distinct

  /** Near misses: each value with one character replaced, dropped or
    * inserted. */
  private val mutants: Seq[String] = {
    val rnd = new scala.util.Random(17)
    val alphabet = "0123456789-/.:, TtZz+aJnMyS"
    Seq.fill(4000) {
      val v = corpus(rnd.nextInt(corpus.size))
      val i = if (v.isEmpty) 0 else rnd.nextInt(v.length)
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 if v.nonEmpty => v.updated(i, c)
        case 1 if v.nonEmpty => v.patch(i, Nil, 1)
        case _               => v.patch(i, Seq(c), 0)
      }
    }.distinct
  }

  private val all: Seq[String] = (corpus ++ mutants).distinct

  private def frame(values: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(values.map(Row(_)), 2),
      StructType(Seq(StructField("x", StringType))))

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(o)) => spark.conf.set(k, o)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Each side's outcome per value, evaluated on the driver: its
    * value, or the exception it throws. */
  private def outcomes(values: Seq[String]): Seq[(String, Try[Any], Try[Any])] = {
    SparkSession.setActiveSession(spark)
    val x = col("x")
    val plan = frame(Seq.empty).select(
      DatetimeExpressions.shapedTimestamp(x, sparkTsFormats), chain(x))
      .queryExecution.optimizedPlan
    val project = plan.collectFirst { case p: Project => p }.get
    val Seq(got, want) = project.projectList.map(
      BindReferences.bindReference(_, project.child.output))
    values.map { v =>
      val row = InternalRow(UTF8String.fromString(v))
      (v, Try(got.eval(row)), Try(want.eval(row)))
    }
  }

  /** The expression and the chain agree on every value: per value on
    * the driver, the same result or the same exception; then, on the
    * values neither throws on, in a Spark job, codegen'd and
    * interpreted. Returns the values the chain throws on. */
  private def compare(): Seq[String] = {
    val byValue = outcomes(all)
    for ((v, got, want) <- byValue) (got, want) match {
      case (Success(g), Success(w)) => assert(g == w, s"'$v': $g != $w")
      case (Failure(g), Failure(w)) =>
        assert(g.getClass == w.getClass, s"'$v': $g, chain $w")
      case _ => fail(s"'$v': $got, chain $want")
    }
    val throwing = byValue.collect { case (v, _, Failure(_)) => v }
    val x = col("x")
    val df = frame(all.filterNot(throwing.toSet)).select(x,
      DatetimeExpressions.shapedTimestamp(x, sparkTsFormats).as("got"),
      chain(x).as("want"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
        val diff = df.filter(!(col("got") <=> col("want"))).collect()
        assert(diff.isEmpty, s"$mode: ${diff.length} rows differ, e.g. " +
          diff.take(10).mkString("; "))
        val parsed = df.filter(col("want").isNotNull).count()
        assert(parsed > 400, s"$mode: only $parsed values parsed")
      }
    }
    throwing
  }

  test("equal to the composed chain under UTC") {
    withConfs("spark.sql.session.timeZone" -> "UTC") {
      assert(compare().isEmpty)
    }
  }

  test("equal to the composed chain under America/Los_Angeles") {
    withConfs("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      assert(compare().isEmpty)
    }
  }

  test("equal to the composed chain under the legacy parser") {
    // the lenient legacy parser overflows on some near misses, and the
    // chain's query fails on them: the expression throws the same
    withConfs("spark.sql.legacy.timeParserPolicy" -> "LEGACY") {
      val throwing = compare()
      assert(throwing.size < all.size / 20, throwing.take(10))
    }
  }

  test("each format's shape admits that format's own renderings") {
    for ((f, v) <- renderings ++ renderings.flatMap { case (f, v) =>
        if (v.exists(_.isLetter)) Seq(f -> v.toUpperCase(Locale.ROOT),
          f -> v.toLowerCase(Locale.ROOT)) else Nil }) {
      assert(DateShapes.dateShaped(UTF8String.fromString(v)),
        s"'$v' ($f) is not date-shaped")
      assert(DateShapes.shapeOf(f).admits(v), s"the shape of $f rejects '$v'")
    }
  }

  test("a shape rejects only values its format cannot parse") {
    val formatters = sparkTsFormats.map(f => f -> TimestampFormatter(f,
      ZoneOffset.UTC, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      isParsing = true, forTimestampNTZ = false))
    var parses = 0
    for ((f, fmt) <- formatters; v <- all) {
      val ok = Try(fmt.parse(v)).isSuccess
      if (ok) parses += 1
      assert(!ok || DateShapes.shapeOf(f).admits(v),
        s"$f parses '$v' but its shape rejects it")
    }
    assert(parses > 400, s"only $parses parses")
  }

  test("every character the parser equates with an ASCII letter is a letter") {
    val ascii = ('a' to 'z') ++ ('A' to 'Z')
    for (c <- Char.MinValue to Char.MaxValue
         if ascii.exists(a => DateShapes.charEquals(c, a)))
      assert(Character.isLetter(c), f"U+${c.toInt}%04X")
  }

  test("a pattern without a shape rule fails loudly") {
    for (p <- Seq("yyyyMMdd", "yy-MM-dd", "EEE, d MMM yyyy", "MMMM'T'",
        "yyyy-MM-dd HH:mm:ss VV", "MMMXXX", "''yyyy"))
      intercept[IllegalArgumentException](DateShapes.shapeOf(p))
    // the profiler's formats all have one
    sparkTsFormats.foreach(DateShapes.shapeOf)
  }

  test("the prefix tests equal the regexes they replace") {
    val rnd = new scala.util.Random(23)
    val alphabet = "0123456789-/., aZ"
    val random = Seq.fill(20000)(
      Seq.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val shaped = java.util.regex.Pattern.compile(dateShapedRegex)
    val iso = java.util.regex.Pattern.compile(isoRegex)
    var hits = 0
    for (v <- all ++ random) {
      val u = UTF8String.fromString(v)
      val want = shaped.matcher(v).find(0)
      if (want) hits += 1
      assert(DateShapes.dateShaped(u) == want, s"dateShaped '$v'")
      assert(DateShapes.isoPrefixed(u) == iso.matcher(v).find(0),
        s"isoPrefixed '$v'")
    }
    assert(hits > 1000, s"only $hits date-shaped values")
  }

  test("no date-shaped value is double-castable") {
    val x = col("x")
    val df = frame(all).filter(DatetimeExpressions.dateShaped(x))
    assert(df.count() > 1000)
    val castable = df.filter(expr("try_cast(x AS DOUBLE)").isNotNull)
      .collect().map(_.getString(0))
    assert(castable.isEmpty, castable.take(10).mkString("; "))
  }

  test("every integer literal is numeric and not date-shaped") {
    // ColumnProfiler skips its integer-literal regex on values whose
    // numeric view is null; that is exact only while this holds
    val rnd = new scala.util.Random(29)
    val ws = Seq("", " ", "\t", "\n", "\u000B", "\f", "\r", "  ")
    val literals = Seq.fill(3000) {
      val digits = Seq.fill(1 + rnd.nextInt(if (rnd.nextBoolean()) 20 else 400))(
        ('0' + rnd.nextInt(10)).toChar).mkString
      ws(rnd.nextInt(ws.size)) + Seq("", "+", "-")(rnd.nextInt(3)) + digits +
        ws(rnd.nextInt(ws.size))
    }.distinct
    assert(literals.forall(_.matches("^\\s*[+-]?[0-9]+\\s*$")))
    val bad = frame(literals).filter(DatetimeExpressions.dateShaped(col("x")) ||
      col("x").try_cast("double").isNull || isnan(col("x").try_cast("double")))
      .collect().map(_.getString(0))
    assert(bad.isEmpty, bad.take(10).mkString("; "))
  }
}
