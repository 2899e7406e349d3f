package graft.diff

import graft.SparkSpec
import graft.ddl.DdlGenerator
import graft.inference.TypeInference
import graft.types.TypeClass
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, when}

/** Schema-diff engine vs RedshiftAutoSchema.py:202-225: reason matrix,
  * precedence, notype filter, missing-table and round-trip behavior. */
class SchemaDiffSpec extends SparkSpec {
  import spark.implicits._

  private def runDiff(p: Seq[(String, String)], d: Seq[(String, String)]) =
    SchemaDiff.diff(
      p.toDF("field", "proposed_type"),
      d.toDF("field", "deployed_type"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(3)).orNull))
      .toMap

  test("reason matrix: MISSING / DEPRECATED / TYPE MISMATCH / equal") {
    val out = runDiff(
      p = Seq("a" -> "int4", "b" -> "varchar(256)", "c" -> "float8",
        "e" -> "int8"),
      d = Seq("a" -> "integer", "b" -> "varchar(65535)", "c" -> "real",
        "f" -> "date"))
    assert(!out.contains("a")) // int4 ≡ integer (class 2)
    assert(out("b") == "TYPE MISMATCH") // 9 vs 10
    assert(out("c") == "TYPE MISMATCH") // 6 vs 5
    assert(out("e") == "MISSING")
    assert(out("f") == "DEPRECATED")
  }

  test("notype rows are excluded; DEPRECATED null-proposed rows survive (RAS:222)") {
    val out = runDiff(
      p = Seq("g" -> "notype"),
      d = Seq("h" -> "int4"))
    assert(!out.contains("g"))
    assert(out("h") == "DEPRECATED")
  }

  test("alias equivalence suppresses false mismatches") {
    val out = runDiff(
      p = Seq("t" -> "timestamp", "v" -> "varchar(256)", "b" -> "bool"),
      d = Seq("t" -> "timestamp without time zone",
        "v" -> "character varying(256)", "b" -> "boolean"))
    assert(out.isEmpty)
  }

  test("missing deployed table → every proposed column MISSING (no throw)") {
    val dep = SchemaDiff.deployedFromCatalog(spark, "default",
      "graft_no_such_table")
    assert(dep.isEmpty)
    val out = SchemaDiff.diff(
      Seq("a" -> "int4").toDF("field", "proposed_type"), dep)
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(out("a") == "MISSING")
  }

  test("round-trip: infer → spark DDL → catalog → empty diff") {
    val df = Seq(
      (1L, "short", "x" * 300, 1.5, true),
      (2L, "text", "y" * 280, 2.0, false))
      .toDF("id", "s_small", "s_big", "x", "flag")
    val metas = TypeInference.inferSchema(df).get
    spark.sql("DROP TABLE IF EXISTS default.graft_rt")
    spark.sql(DdlGenerator.sparkTableDdl("default", "graft_rt", metas))
    try {
      val proposed = metas.map(m => (m.field, m.proposedName))
        .toDF("field", "proposed_type")
      val deployed = SchemaDiff.deployedFromCatalog(spark, "default", "graft_rt")
      assert(SchemaDiff.diff(proposed, deployed).count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS default.graft_rt")
  }

  test("round-trip holds for every testdata table kind (incl. super)") {
    // Covers the full type palette the testdata exercises: int4/int8,
    // float8, date, timestamp, varchar widths, and a nested-array
    // column (super ↔ Spark STRING round-trip — the ADVICE r1 class-10
    // vs class-0 bug regression).
    for (t <- Seq("lineitem", "orders", "events", "documents",
        "embeddings")) {
      val df = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      val metas = TypeInference.inferSchema(df).get
      val tbl = s"graft_rt_$t"
      spark.sql(s"DROP TABLE IF EXISTS default.$tbl")
      spark.sql(DdlGenerator.sparkTableDdl("default", tbl, metas))
      try {
        val proposed = metas.map(m => (m.field, m.proposedName))
          .toDF("field", "proposed_type")
        val deployed = SchemaDiff.deployedFromCatalog(spark, "default", tbl)
        val diffs = SchemaDiff.diff(proposed, deployed).collect()
        assert(diffs.isEmpty,
          s"$t round-trip diff: ${diffs.mkString("; ")}")
      } finally spark.sql(s"DROP TABLE IF EXISTS default.$tbl")
    }
  }

  test("migrationPlan: adds first, lossless widenings second, reviews last") {
    import spark.implicits._
    val proposed = Seq(
      ("amount", "float8"),      // deployed real -> safe widen (5,6)
      ("name", "varchar(65535)"),// deployed varchar(256) -> widen (9,10)
      ("newcol", "int8"),        // missing -> add
      ("shrunk", "int2"),        // deployed int8 -> NARROWING -> review
      ("same", "int4")           // identical class -> not in the diff
    ).toDF("field", "proposed_type")
    val deployed = Seq(
      ("amount", "real"), ("name", "character varying(256)"),
      ("shrunk", "bigint"), ("same", "integer"), ("gone", "date")
    ).toDF("field", "deployed_type")
    val plan = SchemaDiff.migrationPlan(
      SchemaDiff.diff(proposed, deployed), "s", "t").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getBoolean(3), Option(r.getString(4))))
    assert(plan.map(_._1).toSeq == (1 to plan.length), "gapless steps")
    assert(plan.map(p => (p._2, p._3)).toSeq == Seq(
      ("newcol", "add_column"), ("amount", "widen_type"),
      ("name", "widen_type"), ("gone", "manual_review"),
      ("shrunk", "manual_review")), s"plan order: ${plan.toSeq}")
    val byField = plan.map(p => p._2 -> p).toMap
    assert(byField("newcol")._5.contains(
      "ALTER TABLE s.t ADD COLUMN newcol int8;"))
    assert(byField("amount")._5.contains(
      "ALTER TABLE s.t ALTER COLUMN amount TYPE float8;"))
    assert(byField("shrunk")._5.isEmpty && !byField("shrunk")._4,
      "narrowing must carry no DDL")
    assert(byField("gone")._5.isEmpty && !byField("gone")._4,
      "a dropped column must carry no DDL")
  }

  /** The diff as a full-outer join plus a `when` chain, the formulation
    * `diff` replaced; the reference its driver join must reproduce. */
  private def joinDiff(proposed: DataFrame, deployed: DataFrame): DataFrame = {
    val p = col("proposed_type")
    val d = col("deployed_type")
    val classify = (c: String) => expr(TypeClass.classifySql(c))
    proposed.join(deployed, Seq("field"), "full_outer")
      .withColumn("reason",
        when(p.isNotNull && d.isNull, "MISSING")
          .when(p.isNull && d.isNotNull, "DEPRECATED")
          .when(classify("proposed_type") =!= classify("deployed_type"),
            "TYPE MISMATCH"))
      .filter(p.isNull || p =!= "notype")
      .select(col("field"), p, d, col("reason"))
      .filter(col("reason").isNotNull)
  }

  /** Rows of a diff frame as a multiset, sorted for a readable failure. */
  private def rowsOf(df: DataFrame) =
    df.collect().toSeq.map(_.toSeq.map(Option(_))).sortBy(_.toString)

  private def assertSameAsJoin(label: String, proposed: DataFrame,
                               deployed: DataFrame): Unit = {
    val got = SchemaDiff.diff(proposed, deployed)
    val want = joinDiff(proposed, deployed)
    // column metadata (a JDBC read's varchar width, say) is not carried
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))
    assert(shape(got) == shape(want), s"$label: schema")
    assert(rowsOf(got) == rowsOf(want), s"$label: rows")
  }

  private def side(typeCol: String, rows: Seq[(String, String)]) =
    rows.map { case (f, t) => (Option(f), Option(t)) }.toDF("field", typeCol)

  test("driver diff equals the full-outer-join formulation as multisets") {
    val cases: Seq[(String, Seq[(String, String)], Seq[(String, String)])] = Seq(
      ("duplicate proposed fields",
        Seq("a" -> "int4", "a" -> "int8", "b" -> "date"),
        Seq("a" -> "bigint", "c" -> "date")),
      ("duplicate deployed fields",
        Seq("a" -> "int4", "b" -> "bool"),
        Seq("a" -> "integer", "a" -> "text", "a" -> "float8", "z" -> "int4", "z" -> "int2")),
      ("duplicates on both sides",
        Seq("a" -> "int4", "a" -> "varchar(256)"),
        Seq("a" -> "integer", "a" -> "text")),
      ("null field names never match",
        Seq((null, "int4"), (null, "date"), "a" -> "int4"),
        Seq((null, "int4"), "a" -> "int8")),
      ("null types on present fields",
        Seq("a" -> null, "b" -> null, "c" -> "int4", "d" -> null),
        Seq("a" -> null, "b" -> "int4", "c" -> null, "e" -> null)),
      ("notype and NOTYPE",
        Seq("a" -> "notype", "b" -> "NOTYPE", "c" -> "notype", "d" -> "NOTYPE"),
        Seq("a" -> "int4", "b" -> "int4", "e" -> "notype")),
      ("empty proposed side", Seq.empty, Seq("a" -> "int4", "b" -> null)),
      ("empty deployed side", Seq("a" -> "int4", "b" -> "notype"), Seq.empty),
      ("both sides empty", Seq.empty, Seq.empty),
      ("aliases, case and spaces",
        Seq("a" -> "int4", "b" -> "TIMESTAMP", "c" -> " bool ", "d" -> "float8"),
        Seq("a" -> "INTEGER", "b" -> "timestamp without time zone",
          "c" -> "boolean", "d" -> "\tfloat8")))
    for ((label, p, d) <- cases)
      assertSameAsJoin(label, side("proposed_type", p), side("deployed_type", d))

    // seeded random sides over small pools, so keys collide and repeat
    val r = new scala.util.Random(11)
    val fields = Seq("a", "b", "c", "d", null)
    val types = Seq("int4", "integer", "int8", "bigint", "notype", "NOTYPE",
      "varchar(256)", "text", "varchar(65535)", "date", "Date ", "super",
      "geometry", "", null)
    def draw() = Seq.fill(r.nextInt(6))(
      (fields(r.nextInt(fields.size)), types(r.nextInt(types.size))))
    for (i <- 1 to 12)
      assertSameAsJoin(s"random case $i", side("proposed_type", draw()),
        side("deployed_type", draw()))
  }

  test("driver diff equals the join against catalog and JDBC deployed frames") {
    val proposed = Seq("id" -> "int8", "name" -> "varchar(65535)",
      "flag" -> "bool", "extra" -> "date", "ghost" -> "notype")
      .toDF("field", "proposed_type")
    spark.sql("DROP TABLE IF EXISTS default.graft_diff_cat")
    spark.sql("CREATE TABLE default.graft_diff_cat (id INT, name VARCHAR(256), " +
      "flag BOOLEAN, gone DATE) USING parquet")
    try assertSameAsJoin("catalog", proposed,
      SchemaDiff.deployedFromCatalog(spark, "default", "graft_diff_cat"))
    finally spark.sql("DROP TABLE IF EXISTS default.graft_diff_cat")
    assertSameAsJoin("missing catalog table", proposed,
      SchemaDiff.deployedFromCatalog(spark, "default", "graft_no_such_table"))

    val url = "jdbc:derby:memory:graftdiff;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE cols (\"column_name\" VARCHAR(128), " +
        "udt VARCHAR(64), pos INT)")
      st.execute("INSERT INTO cols VALUES ('id', 'int4', 1), " +
        "('name', 'varchar(256)', 2), ('gone', 'date', 3), " +
        "('name', 'text', 4), (NULL, 'int4', 5)")
      st.close()
    } finally c.close()
    val jdbc = graft.sources.JdbcCatalog.deployedFromJdbc(spark,
      graft.sources.JdbcConn(url), "s", "t", sqlOverride = Some(
        "SELECT \"column_name\" AS \"index\", udt AS deployed_type " +
          "FROM cols ORDER BY pos"))
    assertSameAsJoin("JDBC", proposed, jdbc)
  }

  test("diff over local frames launches no Spark job") {
    val p = Seq("a" -> "int4", "b" -> "date").toDF("field", "proposed_type")
    val d = Seq("a" -> "text", "c" -> "int8").toDF("field", "deployed_type")
    val (rows, jobs) = countJobs(SchemaDiff.diff(p, d).collect())
    assert(jobs == 0, s"diff ran $jobs jobs")
    assert(rows.map(_.getString(3)).toSet == Set("TYPE MISMATCH", "MISSING",
      "DEPRECATED"))
  }
}
