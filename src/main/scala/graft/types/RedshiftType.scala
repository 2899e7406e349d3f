package graft.types

/** The eight inferable Redshift types (plus the `notype` sentinel) of the
  * reference engine, re-expressed as a Scala ADT.
  *
  * Spec: /root/reference/redshift_auto_schema/RedshiftAutoSchema.py:294-339
  * (`_evaluate_type`) — the cascade infers exactly: notype, bool, int4,
  * int8, float8, date, timestamp, varchar(256), varchar(65535).
  */
sealed trait RedshiftType {
  /** DDL rendering (RedshiftAutoSchema.py:153: `notype` becomes
    * varchar(256) in emitted CREATE TABLE). */
  def ddl: String = this match {
    case RedshiftType.NoType     => "varchar(256)"
    case other                   => other.name
  }
  /** Canonical name as the reference spells it. */
  def name: String = this match {
    case RedshiftType.NoType      => "notype"
    case RedshiftType.Bool        => "bool"
    case RedshiftType.Int4        => "int4"
    case RedshiftType.Int8        => "int8"
    case RedshiftType.Float8      => "float8"
    case RedshiftType.Date        => "date"
    case RedshiftType.Timestamp   => "timestamp"
    case RedshiftType.Varchar(n)  => s"varchar($n)"
    case RedshiftType.Super       => "super"
  }
}

object RedshiftType {
  case object NoType    extends RedshiftType
  case object Bool      extends RedshiftType
  case object Int4      extends RedshiftType
  case object Int8      extends RedshiftType
  case object Float8    extends RedshiftType
  case object Date      extends RedshiftType
  case object Timestamp extends RedshiftType
  final case class Varchar(n: Int) extends RedshiftType
  /** Redshift's semi-structured type — our mapping target for
    * array/map/struct/binary sources (extension; nested types are
    * impossible in the reference's pandas-CSV world, SURVEY.md §1). A
    * distinct case so CREATE TABLE, ALTER TABLE ADD COLUMN, and the diff
    * classifier all agree on complex columns. */
  case object Super extends RedshiftType

  val Varchar256: RedshiftType   = Varchar(256)
  val Varchar65535: RedshiftType = Varchar(65535)

  def fromName(s: String): RedshiftType = s match {
    case "notype"         => NoType
    case "bool"           => Bool
    case "int4"           => Int4
    case "int8"           => Int8
    case "float8"         => Float8
    case "date"           => Date
    case "timestamp"      => Timestamp
    case "varchar(256)"   => Varchar256
    case "varchar(65535)" => Varchar65535
    case "super"          => Super
    case other => sys.error(s"not a reference-inferable type: $other")
  }
}

/** Type-alias equivalence classes used by the schema-diff comparator.
  *
  * Faithful to RedshiftAutoSchema.py:258-292 (`_classify_type`), with two
  * documented divergences (SURVEY.md §1 "known reference bugs"):
  *   - RAS:285 `datatype in ('date')` is a Python substring test (any
  *     substring of "date" — "a", "at", "ate" — classifies 11). We treat
  *     it as intended tuple membership: exactly "date" → 11.
  *   - RAS:273/275 list 'float' under both class 5 (real) and class 6
  *     (double precision); first match wins in Python, so deployed
  *     'float' → 5. We reproduce that observable behavior (float → 5)
  *     and simply omit the dead 'float' alias from class 6.
  */
object TypeClass {
  /** Each class id with the type names it holds, in match order — the
    * one table [[classify]] and [[classifySql]] are both built from. */
  val aliases: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("smallint", "int2"),
    2 -> Seq("integer", "int", "int4"),
    3 -> Seq("bigint", "int8"),
    4 -> Seq("decimal", "numeric"),
    5 -> Seq("real", "float"),
    6 -> Seq("double precision", "float8"),
    7 -> Seq("boolean", "bool"),
    8 -> Seq("char", "character", "nchar", "bpchar"),
    9 -> Seq("varchar", "varchar(256)", "character varying",
      "character varying(256)", "nvarchar", "nvarchar(256)", "text"),
    10 -> Seq("varchar(65535)", "character varying(65535)",
      "nvarchar(65535)"),
    11 -> Seq("date"),
    12 -> Seq("timestamp", "timestamp without time zone"),
    13 -> Seq("timestamptz", "timestamp with time zone"),
    // Extension class (not in the reference): keeps a deployed SUPER
    // column distinct from varchar so complex columns diff clean.
    14 -> Seq("super"))

  private val classOf: Map[String, Int] =
    aliases.flatMap { case (c, names) => names.map(_ -> c) }.toMap

  /** Class id of a type name, 0 when unknown; equal to [[classifySql]]
    * evaluated by Spark for every input (TypeClassSpec holds them
    * equal): spaces only are trimmed, as Spark's `trim` does, the case
    * is folded independently of the default locale, and null is 0. */
  def classify(datatype: String): Int =
    if (datatype == null) 0
    else classOf.getOrElse(datatype.replaceAll("^ +| +$", "")
      .toLowerCase(java.util.Locale.ROOT), 0)

  /** The same classifier as a SQL CASE expression over column `col` —
    * single source of truth reused verbatim by both the Spark diff query
    * and the DuckDB oracle, so the two engines classify identically.
    * NULL input: no WHEN matches (NULL IN (...) is not true) → ELSE 0,
    * matching Python str(None/NaN) → unknown class 0. */
  def classifySql(col: String): String = {
    val whens = aliases.map {
      case (c, Seq(name)) => s"WHEN lower(trim($col)) = '$name' THEN $c"
      case (c, names) =>
        s"WHEN lower(trim($col)) IN ${names.map(v => s"'$v'")
          .mkString("(", ", ", ")")} THEN $c"
    }
    ("CASE" +: whens :+ "ELSE 0 END").mkString(" ")
  }
}
