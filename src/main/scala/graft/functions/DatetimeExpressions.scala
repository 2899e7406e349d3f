package graft.functions

import java.text.ParseException
import java.time.{DateTimeException, Month, ZoneId}
import java.time.format.TextStyle
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Predicate, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

object DatetimeExpressions {

  /** The first of `formats` that parses each date-shaped string, else
    * the guarded ISO fallback, as a TIMESTAMP: the value of a `coalesce`
    * over one try-parse per format and the fallback, in one expression
    * that tries only the formats the value's shape admits
    * ([[ShapedTimestamp]]). */
  def shapedTimestamp(c: Column, formats: Seq[String]): Column =
    GraftColumnBridge.column(
      ShapedTimestamp(GraftColumnBridge.expression(c), formats))

  /** [[DateShapes.dateShaped]] as a predicate; null on null. */
  def dateShaped(c: Column): Column =
    GraftColumnBridge.column(DateShaped(GraftColumnBridge.expression(c)))
}

/** Native datetime view of a string column for type inference.
  *
  * The composed chain it replaces, `coalesce` over Spark's try-parse of
  * each format, tries every format in list order; each miss throws and
  * catches a parse exception, so a plain date paid 9 of them before
  * `yyyy-MM-dd` parsed it. This expression parses each value with the
  * same Spark formatters (built as Spark's `GetTimestamp` builds its
  * own: `TimestampFormatter(fmt, zoneId, SIMPLE_DATE_FORMAT, isParsing
  * = true)`), in the same order, catching the same exceptions, and
  * then the ISO fallback (the string-to-timestamp cast) on values that
  * start `yyyy-MM-dd`; but it skips every format whose
  * [[DateShapes.Shape]] rejects the value. A shape rejects only
  * strings the strict java.time parser cannot parse, so the first
  * success, and with it every profile, is the chain's.
  *
  * That proof holds for the java.time parser only: under any
  * `spark.sql.legacy.timeParserPolicy` but CORRECTED (the default)
  * every format is tried. The result is TIMESTAMP (LTZ), the default
  * `spark.sql.timestampType`. */
case class ShapedTimestamp(child: Expression, formats: Seq[String],
                           timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression
    with ImplicitCastInputTypes with Serializable {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shaped_timestamp"

  override def withTimeZone(tz: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(tz))

  @transient private lazy val parser = new ShapedTimestampParser(formats, zoneId)

  override def nullSafeEval(s: Any): Any =
    parser.parse(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("shapedTs", parser)
    nullSafeCodeGen(ctx, ev, s => {
      val micros = ctx.freshName("micros")
      s"""
         |final java.lang.Long $micros = $p.parse($s);
         |if ($micros == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $micros.longValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShapedTimestamp = copy(child = newChild)
}

/** The per-value kernel of [[ShapedTimestamp]], shared by interpreted
  * eval and codegen. It reads the parser policy once, as
  * `TimestampFormatter` reads it to pick its parser. Every shape is
  * built whatever the policy, so a format without a shape rule fails
  * the first query under any policy. */
final class ShapedTimestampParser(formats: Seq[String], zoneId: ZoneId)
    extends Serializable {
  private val formatters = formats.map(f =>
    TimestampFormatter(f, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      isParsing = true, forTimestampNTZ = false)).toArray
  private val shapes = formats.map(DateShapes.shapeOf).toArray
  private val byShape =
    SQLConf.get.legacyTimeParserPolicy == LegacyBehaviorPolicy.CORRECTED

  /** Epoch microseconds of the first format, in list order, that parses
    * `u`, else of the ISO fallback; null if none does. */
  def parse(u: UTF8String): java.lang.Long = {
    if (!DateShapes.dateShaped(u)) return null
    val s = u.toString
    var i = 0
    while (i < formatters.length) {
      if (!byShape || shapes(i).admits(s)) {
        // the exceptions Spark's try-parse turns into null; any other
        // propagates, as it does there
        try return formatters(i).parse(s)
        catch { case _: DateTimeException | _: ParseException => }
      }
      i += 1
    }
    if (DateShapes.isoPrefixed(u))
      DateTimeUtils.stringToTimestamp(u, zoneId).map(Long.box).orNull
    else null
  }
}

/** [[DateShapes.dateShaped]] as a Catalyst predicate. */
case class DateShaped(child: Expression)
    extends UnaryExpression with Predicate with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes = Seq(StringType)
  override def prettyName: String = "graft_date_shaped"

  override def nullSafeEval(s: Any): Any =
    DateShapes.dateShaped(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.DateShapes.dateShaped($s)")

  override protected def withNewChildInternal(
      newChild: Expression): DateShaped = copy(child = newChild)
}

/** Cheap, exception-free tests of a string's shape.
  *
  * The prefix tests read UTF-8 bytes: every position they test follows
  * an all-ASCII prefix, where byte and character positions agree, and
  * no byte of a multi-byte character is an ASCII digit, letter or
  * separator. */
object DateShapes {

  private def at(u: UTF8String, i: Int): Int =
    if (i < u.numBytes) u.getByte(i) else -1
  private def isDigit(u: UTF8String, i: Int): Boolean = {
    val c = at(u, i); c >= '0' && c <= '9'
  }
  private def digits(u: UTF8String, i: Int): Int = {
    var j = i
    while (isDigit(u, j)) j += 1
    j - i
  }
  private def letters(u: UTF8String, i: Int): Int = {
    var j = i
    while ({ val c = at(u, j); (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') })
      j += 1
    j - i
  }
  private def isSep(u: UTF8String, i: Int): Boolean = {
    val c = at(u, i); c == '-' || c == '/' || c == '.'
  }

  /** The strings the inference datetime view parses at all; it is null
    * on every other string. Equal to a match at the start of the regex
    * {{{
    * \d{4}[-/.]\d{1,2}[-/.]\d{1,2} | \d{2}/\d{2}/\d{4}
    *   | [A-Za-z]{3,9} \d{1,2},? \d{4} | \d{1,2} [A-Za-z]{3,9} \d{4}
    * }}}
    * Keep in sync with `ColumnProfiler.sparkTsFormats`. No string it
    * accepts is double-castable: each has a `-` or `/` after a digit, a
    * second `.`, or an inner space. */
  def dateShaped(u: UTF8String): Boolean = {
    // yyyy[-/.]M[-/.]d
    (digits(u, 0) == 4 && isSep(u, 4) && {
      val m = digits(u, 5)
      (m == 1 || m == 2) && isSep(u, 5 + m) && isDigit(u, 6 + m)
    }) ||
    // MM/dd/yyyy
    (digits(u, 0) == 2 && at(u, 2) == '/' && digits(u, 3) == 2 &&
      at(u, 5) == '/' && digits(u, 6) >= 4) ||
    // Mon d[,] yyyy
    ({
      val l = letters(u, 0)
      l >= 3 && l <= 9 && at(u, l) == ' ' && {
        val d = digits(u, l + 1)
        val q = l + 1 + d
        val r = if (at(u, q) == ',') q + 1 else q
        (d == 1 || d == 2) && at(u, r) == ' ' && digits(u, r + 1) >= 4
      }
    }) ||
    // d Mon yyyy
    ({
      val d = digits(u, 0)
      (d == 1 || d == 2) && at(u, d) == ' ' && {
        val l = letters(u, d + 1)
        l >= 3 && l <= 9 && at(u, d + 1 + l) == ' ' &&
          digits(u, d + 2 + l) >= 4
      }
    })
  }

  /** A match at the start of `\d{4}-\d{2}-\d{2}`: the guard that keeps
    * partial values such as "March" or "12:30" out of the ISO
    * fallback. */
  def isoPrefixed(u: UTF8String): Boolean =
    digits(u, 0) == 4 && at(u, 4) == '-' && isDigit(u, 5) &&
      isDigit(u, 6) && at(u, 7) == '-' && isDigit(u, 8) && isDigit(u, 9)

  /** One field or literal of a datetime pattern, as a test on the text
    * the strict java.time parser reads for it. */
  sealed trait Token
  /** A run of ASCII digits, after at most one sign from `signs`. */
  final case class Digits(min: Int, max: Int, signs: String) extends Token
  /** A run of letters: a month name. */
  final case class Text(min: Int, max: Int) extends Token
  /** One character, compared as the case-insensitive parser does. */
  final case class Literal(c: Char) extends Token
  /** `Z`, `z` or `±hh:mm`. */
  case object Offset extends Token

  private def nameLengths(style: TextStyle): Seq[Int] = {
    // Spark's formatters parse in Locale.US
    val names = Month.values.toSeq.map(_.getDisplayName(style, Locale.US))
    require(names.forall(_.forall(c => c < 128 && c.isLetter)),
      s"month names are not ASCII letters: $names")
    names.map(_.length)
  }
  private lazy val shortNames = nameLengths(TextStyle.SHORT)
  private lazy val fullNames = nameLengths(TextStyle.FULL)

  /** The token of `n` repeats of pattern letter `c`, as Spark's
    * parser reads it: `yyyy` becomes java.time's `uuuu` (4 digits
    * unsigned, up to 19 after a sign), `d` reads 1–19 digits and a
    * `-`, a run of `n` `S` reads a 1–n digit fraction. */
  private def field(c: Char, n: Int, pattern: String): Token = (c, n) match {
    case ('y', 4)                                         => Digits(4, 19, "+-")
    case ('M' | 'd' | 'H' | 'm' | 's', 2)                 => Digits(2, 2, "")
    case ('d', 1)                                         => Digits(1, 19, "-")
    case ('M', 3)                                         => Text(shortNames.min, shortNames.max)
    case ('M', 4)                                         => Text(fullNames.min, fullNames.max)
    case ('S', _)                                         => Digits(1, n, "")
    case ('X', 3)                                         => Offset
    case _ => throw new IllegalArgumentException(
      s"no shape rule for '${c.toString * n}' in datetime pattern '$pattern'")
  }

  /** The characters a token's maximal run consumes, and whether a token
    * can begin with one of them. */
  private def runOf(t: Token): Option[Char => Boolean] = t match {
    case _: Digits => Some(c => c >= '0' && c <= '9')
    case _: Text   => Some(c => Character.isLetter(c))
    case _         => None
  }
  private def canStartWith(t: Token, run: Char => Boolean): Boolean = t match {
    case Literal(c)          => run(c) || run(c.toUpper) || run(c.toLower)
    case Digits(_, _, signs) => run('0') || signs.exists(run)
    case Text(_, _)          => run('a')
    case Offset              => "Zz+-".exists(run)
  }

  /** The shape of a datetime pattern. It throws on a pattern letter it
    * has no rule for, and on a field whose maximal run could swallow
    * the start of the next token (`yyyyMMdd`): those have no shape. */
  def shapeOf(pattern: String): Shape = {
    val tokens = Seq.newBuilder[Token]
    var i = 0
    while (i < pattern.length) {
      val c = pattern(i)
      if (c == '\'') {
        val end = pattern.indexOf('\'', i + 1)
        if (end <= i + 1) throw new IllegalArgumentException(
          s"no shape rule for the quoting in datetime pattern '$pattern'")
        pattern.substring(i + 1, end).foreach(tokens += Literal(_))
        i = end + 1
      } else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        var j = i
        while (j < pattern.length && pattern(j) == c) j += 1
        tokens += field(c, j - i, pattern)
        i = j
      } else {
        tokens += Literal(c)
        i += 1
      }
    }
    val ts = tokens.result()
    ts.zip(ts.drop(1)).foreach { case (a, b) =>
      if (runOf(a).exists(canStartWith(b, _)))
        throw new IllegalArgumentException(
          s"no shape rule for adjacent $a and $b in datetime pattern '$pattern'")
    }
    new Shape(ts.toArray)
  }

  /** The strings a pattern's tokens admit in sequence, each numeric or
    * text token taking its maximal run. It admits every string the
    * strict java.time parser parses with that pattern (Spark's
    * CORRECTED policy):
    *   - each numeric field reads at most as many digits as its run
    *     holds and at least its minimum, and the token after it cannot
    *     begin with a digit, so the parser read the whole run;
    *   - a month name is ASCII letters, and every character the
    *     case-insensitive parser equates with one is a letter; the
    *     token after it cannot begin with a letter, so the name is the
    *     whole letter run;
    *   - literals compare as the parser's case-insensitive `charEquals`;
    *   - the `XXX` offset is `Z`, `z` or a sign, two digits, `:` and two
    *     digits.
    * Resolution (say, 30 Feb) is left to the parser. */
  final class Shape(tokens: Array[Token]) extends Serializable {
    private val minLen = tokens.map {
      case Digits(min, _, _) => min
      case Text(min, _)      => min
      case _                 => 1
    }.sum
    private val maxLen = tokens.map {
      case Digits(_, max, signs) => max + (if (signs.isEmpty) 0 else 1)
      case Text(_, max)          => max
      case Literal(_)            => 1
      case Offset                => 6
    }.sum

    def admits(s: String): Boolean = {
      val n = s.length
      if (n < minLen || n > maxLen) return false
      var p = 0
      var k = 0
      while (k < tokens.length && p >= 0) {
        p = step(tokens(k), s, p)
        k += 1
      }
      p == n
    }

    /** The position after token `t` read at `p`, or -1. */
    private def step(t: Token, s: String, p: Int): Int = {
      val n = s.length
      def runEnd(from: Int, in: Char => Boolean): Int = {
        var q = from
        while (q < n && in(s.charAt(q))) q += 1
        q
      }
      def digit(q: Int) = q < n && s.charAt(q) >= '0' && s.charAt(q) <= '9'
      t match {
        case Literal(c) =>
          if (p < n && charEquals(s.charAt(p), c)) p + 1 else -1
        case Digits(min, max, signs) =>
          val from = if (p < n && signs.indexOf(s.charAt(p)) >= 0) p + 1 else p
          val end = runEnd(from, c => c >= '0' && c <= '9')
          if (end - from >= min && end - from <= max) end else -1
        case Text(min, max) =>
          val end = runEnd(p, c => Character.isLetter(c))
          if (end - p >= min && end - p <= max) end else -1
        case Offset =>
          if (p < n && (s.charAt(p) == 'Z' || s.charAt(p) == 'z')) p + 1
          else if (p < n && (s.charAt(p) == '+' || s.charAt(p) == '-') &&
              digit(p + 1) && digit(p + 2) && p + 3 < n &&
              s.charAt(p + 3) == ':' && digit(p + 4) && digit(p + 5)) p + 6
          else -1
      }
    }
  }

  /** java.time's case-insensitive character comparison. */
  def charEquals(a: Char, b: Char): Boolean =
    a == b || Character.toUpperCase(a) == Character.toUpperCase(b) ||
      Character.toLowerCase(a) == Character.toLowerCase(b)
}
