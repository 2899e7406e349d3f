package graft.diff

import scala.jdk.CollectionConverters._

import graft.types.TypeClass
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The schema-diff engine: proposed ⟗ deployed → per-column reason
  * classification (RedshiftAutoSchema.py:202-225).
  *
  * Both sides hold one row per column, never one per data row, so the
  * diff runs on the driver like the reference's pandas merge: each side
  * is collected once (a local frame collects without a Spark job, a
  * JDBC catalog read is one), joined and classified with
  * [[TypeClass.classify]], and the result is a local frame. The join
  * keeps SQL full-outer semantics: duplicate fields pair every match,
  * null fields never match. Classification precedence reproduces the
  * pandas overwrite order at RAS:218-220: TYPE MISMATCH is assigned
  * first for every row, then MISSING and DEPRECATED overwrite it, so
  * MISSING and DEPRECATED are tested first here, on the null-ness of
  * the type rather than on whether the field matched.
  */
object SchemaDiff {

  /** One diff row; `proposedType`/`deployedType` are null where that
    * side has no type. */
  final case class DiffRow(field: String, proposedType: String,
                           deployedType: String, reason: String)

  /** Schema of every frame [[diff]] returns; the input columns'
    * metadata (a JDBC read's varchar width, say) is not carried. */
  private val diffSchema: StructType = StructType(
    Seq("field", "proposed_type", "deployed_type", "reason")
      .map(StructField(_, StringType)))

  /** (field, type) rows of a column-count-sized side, in frame order. */
  private[graft] def collectSide(side: DataFrame, typeCol: String): Seq[(String, String)] =
    side.select(col("field"), col(typeCol)).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))

  /** The diff of two collected sides: full outer join on field (proposed
    * order first, each row with its matches in deployed order, then the
    * unmatched deployed rows), reason as at RAS:218-220, `notype` rows
    * dropped case-sensitively (RAS:222 — NaN != 'notype' is true in
    * pandas, so DEPRECATED rows with null proposed_type survive the
    * filter), rows without a reason dropped. */
  def diffRows(proposed: Seq[(String, String)],
               deployed: Seq[(String, String)]): Seq[DiffRow] = {
    val byField = deployed.filter(_._1 != null).groupBy(_._1)
    val matched = proposed.flatMap { case (f, pt) =>
      byField.getOrElse(f, Seq((f, null))).map { case (_, dt) => (f, pt, dt) }
    }
    val proposedFields = proposed.map(_._1).toSet
    val unmatched = deployed.collect {
      case (f, dt) if f == null || !proposedFields(f) => (f, null, dt)
    }
    (matched ++ unmatched).flatMap { case (f, pt, dt) =>
      val reason =
        if (pt != null && dt == null) "MISSING"
        else if (pt == null && dt != null) "DEPRECATED"
        else if (TypeClass.classify(pt) != TypeClass.classify(dt))
          "TYPE MISMATCH"
        else null
      if (reason == null || pt == "notype") None
      else Some(DiffRow(f, pt, dt, reason))
    }
  }

  /** [[diffRows]] as a local frame of [[diffSchema]]. */
  private[graft] def toFrame(spark: SparkSession, rows: Seq[DiffRow]): DataFrame =
    spark.createDataFrame(rows.map(r =>
      Row(r.field, r.proposedType, r.deployedType, r.reason)).asJava,
      diffSchema)

  /** @param proposed DataFrame(field, proposed_type)
    * @param deployed DataFrame(field, deployed_type)
    * @return local DataFrame(field, proposed_type, deployed_type,
    *         reason) of the actual diffs ([[diffRows]]); no Spark job
    *         runs when both sides are local frames. */
  def diff(proposed: DataFrame, deployed: DataFrame): DataFrame =
    toFrame(proposed.sparkSession, diffRows(
      collectSide(proposed, "proposed_type"),
      collectSide(deployed, "deployed_type")))

  /** Deployed-side schema from the Spark catalog, shaped like the
    * reference's information_schema.columns read (RAS:215-216: udt_name
    * plus parenthesized length, ordered by position).
    *
    * A missing table yields an EMPTY frame — mirroring the reference,
    * whose information_schema query returns zero rows so every proposed
    * column classifies MISSING (feeding generate_column_ddl) instead of
    * throwing. Varchar widths survive the catalog round-trip: Spark
    * stores `VARCHAR(n)` as StringType plus the __CHAR_VARCHAR_TYPE_STRING
    * metadata key, which we read back so varchar(256) vs varchar(65535)
    * (diff classes 9 vs 10, RAS:281-284) stays distinguishable. */
  def deployedFromCatalog(spark: SparkSession, schema: String,
                          table: String): DataFrame = {
    import org.apache.spark.sql.types._
    val qualified = s"$schema.$table"
    if (!spark.catalog.tableExists(qualified)) {
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("field", StringType),
                       StructField("deployed_type", StringType))))
    }
    val charVarcharKey = "__CHAR_VARCHAR_TYPE_STRING"
    val fields = spark.table(qualified).schema.fields.toSeq
    val rows = fields.map { f =>
      val rawType =
        if (f.metadata.contains(charVarcharKey))
          CatalystSqlParser.parseDataType(f.metadata.getString(charVarcharKey))
        else f.dataType
      val t = rawType match {
        case BooleanType            => "bool"
        case ByteType | ShortType   => "int2"
        case IntegerType            => "int4"
        case LongType               => "int8"
        case FloatType              => "float4"
        case DoubleType             => "float8"
        case _: DecimalType         => "numeric"
        case DateType               => "date"
        case _: TimestampType       => "timestamp"
        case VarcharType(n)         => s"varchar($n)"
        case CharType(n)            => "char"
        case _: StringType
          if f.getComment().contains("graft:super") =>
          "super" // sparkTableDdl's marker for serialized nested data
        case _: StringType          => "varchar(65535)" // unbounded STRING ≅ max varchar
        case _                      => "super" // array/map/struct/binary
      }
      (f.name, t)
    }
    spark.createDataFrame(rows).toDF("field", "deployed_type")
  }

  /** Pairs of type classes ([[TypeClass.classify]] ids) where ALTERing
    * deployed → proposed is LOSSLESS: integer widening (int2→int4→int8),
    * any integer → decimal, integer/real → double precision, char →
    * varchar, and varchar(256) → varchar(65535). Everything else —
    * including every narrowing and any cross-family change — is
    * manual-review territory. */
  val safeWideningPairs: Set[(Int, Int)] = Set(
    (1, 2), (1, 3), (2, 3),                    // int widening
    (1, 4), (2, 4), (3, 4),                    // int → decimal
    (1, 6), (2, 6), (3, 6), (5, 6),            // int/real → float8
    (8, 9), (8, 10), (9, 10))                  // char/varchar widening

  /** Ordered migration plan from a [[diff]] frame — the executable
    * continuation of the reference's evaluate_table_ddl_diffs →
    * generate_column_ddl flow (RAS:177-225), extended with a SAFETY
    * classification the reference leaves to the operator:
    *
    *   - MISSING → `add_column`, safe, the RAS:190 unquoted
    *     ALTER ADD COLUMN statement ([[graft.ddl.DdlGenerator]]'s
    *     template verbatim).
    *   - TYPE MISMATCH along [[safeWideningPairs]] → `widen_type`, safe,
    *     an ALTER COLUMN TYPE statement.
    *   - any other TYPE MISMATCH and every DEPRECATED column →
    *     `manual_review`, unsafe, no DDL (dropping a column or
    *     narrowing a type loses data; a migration tool must never
    *     emit those statements unprompted).
    *
    * Steps order safe-first (adds, then widens, then reviews),
    * alphabetical within an action — the order the statements can
    * actually be executed in. The frame is column-count-sized by the
    * diff contract, so the step window is bounded (never data-sized).
    * Returns (step, field, action, safe, ddl). */
  def migrationPlan(diffFrame: DataFrame, schema: String,
                    table: String): DataFrame = {
    val p = col("proposed_type")
    val widenable = safeWideningPairs
      .map { case (from, to) => (from * 100 + to) }
      .toSeq.sorted
    val pair = expr(TypeClass.classifySql("deployed_type")) * 100 +
      expr(TypeClass.classifySql("proposed_type"))
    val action =
      when(col("reason") === "MISSING", "add_column")
        .when(col("reason") === "TYPE MISMATCH" &&
          pair.isin(widenable: _*), "widen_type")
        .otherwise("manual_review")
    val ddl =
      when(col("action") === "add_column", concat(
        lit(s"ALTER TABLE $schema.$table ADD COLUMN "), col("field"),
        lit(" "), p, lit(";")))
      .when(col("action") === "widen_type", concat(
        lit(s"ALTER TABLE $schema.$table ALTER COLUMN "), col("field"),
        lit(" TYPE "), p, lit(";")))
    val order = when(col("action") === "add_column", 0)
      .when(col("action") === "widen_type", 1).otherwise(2)
    diffFrame
      .withColumn("action", action)
      .withColumn("safe", col("action") =!= "manual_review")
      .withColumn("ddl", ddl)
      .withColumn("step", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(order, col("field"))).cast("int"))
      .select(col("step"), col("field"), col("action"), col("safe"),
        col("ddl"))
      .orderBy("step")
  }
}
