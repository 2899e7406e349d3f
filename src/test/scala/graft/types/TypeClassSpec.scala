package graft.types

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.expr

/** Alias-equivalence classifier vs RedshiftAutoSchema.py:258-292,
  * including the documented bug-compat decisions (SURVEY.md §1). */
class TypeClassSpec extends SparkSpec {

  test("the 13 reference classes") {
    assert(TypeClass.classify("smallint") == 1)
    assert(TypeClass.classify("int2") == 1)
    assert(TypeClass.classify("integer") == 2)
    assert(TypeClass.classify("int") == 2)
    assert(TypeClass.classify("int4") == 2)
    assert(TypeClass.classify("bigint") == 3)
    assert(TypeClass.classify("int8") == 3)
    assert(TypeClass.classify("decimal") == 4)
    assert(TypeClass.classify("numeric") == 4)
    assert(TypeClass.classify("real") == 5)
    assert(TypeClass.classify("double precision") == 6)
    assert(TypeClass.classify("float8") == 6)
    assert(TypeClass.classify("boolean") == 7)
    assert(TypeClass.classify("bool") == 7)
    assert(TypeClass.classify("char") == 8)
    assert(TypeClass.classify("bpchar") == 8)
    assert(TypeClass.classify("varchar") == 9)
    assert(TypeClass.classify("varchar(256)") == 9)
    assert(TypeClass.classify("character varying(256)") == 9)
    assert(TypeClass.classify("text") == 9)
    assert(TypeClass.classify("varchar(65535)") == 10)
    assert(TypeClass.classify("date") == 11)
    assert(TypeClass.classify("timestamp") == 12)
    assert(TypeClass.classify("timestamp without time zone") == 12)
    assert(TypeClass.classify("timestamptz") == 13)
    assert(TypeClass.classify("timestamp with time zone") == 13)
  }

  test("case and whitespace insensitive") {
    assert(TypeClass.classify("  INTEGER ") == 2)
  }

  test("bug-compat: deployed 'float' classifies real (RAS:273/275 dup, first wins)") {
    assert(TypeClass.classify("float") == 5)
  }

  test("bug-fix divergence: RAS:285 substring test treated as exact 'date'") {
    // Python `'at' in ('date')` is True (substring); we require equality.
    assert(TypeClass.classify("at") == 0)
    assert(TypeClass.classify("a") == 0)
    assert(TypeClass.classify("date") == 11)
  }

  test("extension: super is its own class") {
    assert(TypeClass.classify("super") == 14)
  }

  test("unknown types classify 0") {
    assert(TypeClass.classify("geometry") == 0)
  }

  test("varchar(256) vs varchar(65535) IS a mismatch (RAS:281-284)") {
    assert(TypeClass.classify("varchar(256)") != TypeClass.classify("varchar(65535)"))
  }

  test("RedshiftType name/ddl round-trip") {
    import RedshiftType._
    for (t <- Seq(NoType, Bool, Int4, Int8, Float8, Date, Timestamp,
        Varchar256, Varchar65535, Super))
      assert(fromName(t.name) == t)
    assert(NoType.ddl == "varchar(256)") // RAS:153 substitution
    assert(Super.ddl == "super")
  }

  test("classify equals classifySql run by Spark on every name, alias and edge case") {
    import spark.implicits._
    val names = {
      import RedshiftType._
      Seq(NoType, Bool, Int4, Int8, Float8, Date, Timestamp, Varchar256,
        Varchar65535, Super).map(_.name)
    }
    val edges = Seq("INT4", "Double Precision", "  int4  ", "int4 ",
      "\tint4", "int4\t", "\nbool", "\u00a0date", "", " ", "İNT",
      "timestamp  without time zone", "varchar (256)", null)
    val inputs = (SparkEntry.classifyFixture ++ names ++
      TypeClass.aliases.flatMap(_._2) ++
      TypeClass.aliases.flatMap(_._2).map(_.toUpperCase) ++ edges).distinct
    val bySpark = inputs.map(Option(_)).toDF("datatype")
      .select($"datatype", expr(TypeClass.classifySql("datatype")))
      .collect().map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    assert(bySpark.size == inputs.size)
    for (d <- inputs)
      assert(TypeClass.classify(d) == bySpark(Option(d)),
        s"classify(${Option(d).map(v => "\"" + v + "\"")}) differs from classifySql")
    assert(TypeClass.classify("\tint4") == 0 && TypeClass.classify(null) == 0)
  }
}
