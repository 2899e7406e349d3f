package graft

import java.nio.file.{Files, Paths}

/** Facade behavior vs the reference's public API (README.md:36-46). */
class RedshiftAutoSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(name: String, lines: String*): String = {
    val p = s"/tmp/graft-test-$name.csv"
    Files.writeString(Paths.get(p), lines.mkString("\n"))
    p
  }

  test("CSV load: pipe delimiter, header, NA tokens nulled, all-string inference") {
    val p = writeCsv("na",
      "qty|price|note",
      "1|9.5|NULL",
      "2|N/A|hello",
      "3|11.25|nan")
    val t = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    val types = t.metadata.get.map(m => m.field -> m.proposedName).toMap
    assert(types("qty") == "int4")
    assert(types("price") == "float8") // N/A dropped as null
    assert(types("note") == "varchar(256)")
  }

  test("JSONL load (extension): all-string primitives through the cascade; nested → super") {
    val p = "/tmp/graft-test-src.jsonl"
    Files.writeString(Paths.get(p), Seq(
      """{"qty": 1, "price": 9.5, "flag": true, "note": "hello", "meta": {"k": 1}, "d": "2020-01-02"}""",
      """{"qty": 2, "price": 11.25, "flag": false, "note": "world", "meta": {"k": 2}, "d": "2020-03-04"}"""
    ).mkString("\n"))
    val t = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    val types = t.metadata.get.map(m => m.field -> m.proposedName).toMap
    assert(types("qty") == "int4")
    assert(types("price") == "float8")
    assert(types("flag") == "bool")
    assert(types("note") == "varchar(256)")
    assert(types("d") == "date")
    assert(types("meta") == "super", s"nested object must map to super: $types")
  }

  test("header normalization '.' → '_' (RAS:233) and column override (RAS:247-250)") {
    val p = writeCsv("hdr", "a.b|c.d", "1|x")
    val t1 = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    assert(t1.getColumnList == Seq("a_b", "c_d"))
    val t2 = new RedshiftAutoSchema(spark, "s", "t", file = Some(p),
      columns = Some(Seq("x1", "x2")))
    assert(t2.getColumnList == Seq("x1", "x2"))
  }

  test("generateTableDdl on a DataFrame source; empty input → None") {
    // value 3e9 forces int8 (a lone 0/1 would legitimately infer bool —
    // RAS:311 — and small values int4: range decides, not source width)
    val df = Seq((3000000000L, "a")).toDF("id", "name")
    val t = new RedshiftAutoSchema(spark, "sch", "tbl", fileDf = Some(df))
    val ddl = t.generateTableDdl().get
    assert(ddl.startsWith("CREATE TABLE sch.tbl ("))
    assert(ddl.contains("\"id\" int8"))
    assert(ddl.contains(", \"name\" varchar(256)"))
    val empty = new RedshiftAutoSchema(spark, "sch", "tbl",
      fileDf = Some(Seq.empty[(Long, String)].toDF("id", "name")))
    assert(empty.generateTableDdl().isEmpty)
  }

  test("constructor requires a source (RAS:63)") {
    intercept[IllegalArgumentException] {
      new RedshiftAutoSchema(spark, "s", "t")
    }
  }

  test("existence checks against the Spark catalog (RAS:93-123)") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = new RedshiftAutoSchema(spark, "default", "graft_exist_t",
      fileDf = Some(df))
    assert(t.checkSchemaExistence())
    spark.sql("DROP TABLE IF EXISTS default.graft_exist_t")
    assert(!t.checkTableExistence())
    spark.sql("CREATE TABLE default.graft_exist_t (id BIGINT) USING parquet")
    try assert(t.checkTableExistence())
    finally spark.sql("DROP TABLE IF EXISTS default.graft_exist_t")
  }

  test("diff + column DDL against a caller-supplied deployed schema") {
    val df = Seq((1L, "a", true)).toDF("id", "name", "extra")
    val deployed = Seq(("id", "int8"), ("name", "varchar(256)"))
      .toDF("field", "deployed_type")
    val t = new RedshiftAutoSchema(spark, "s", "t", fileDf = Some(df),
      deployed = Some(deployed))
    assert(t.generateColumnDdl().get ==
      "ALTER TABLE s.t ADD COLUMN extra bool;")
  }

  test("column DDL after the diff reuses its rows: zero jobs, same ALTERs") {
    val df = Seq((3000000000L, "a", true, 2.5)).toDF("id", "name", "extra", "more")
    val deployed = Seq(("id", "int8"), ("name", "int4"), ("gone", "int4"))
      .toDF("field", "deployed_type")
    def ras() = new RedshiftAutoSchema(spark, "s", "t", fileDf = Some(df),
      deployed = Some(deployed))
    val fresh = ras().generateColumnDdl()
    val t = ras()
    val diff = t.evaluateTableDdlDiffs().collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(diff == Map("name" -> "TYPE MISMATCH", "extra" -> "MISSING",
      "more" -> "MISSING", "gone" -> "DEPRECATED"))
    val (alters, jobs) = countJobs(t.generateColumnDdl())
    assert(jobs == 0, s"generateColumnDdl re-ran the diff: $jobs jobs")
    assert(alters == fresh)
    assert(alters.get.split("\n").toSet == Set(
      "ALTER TABLE s.t ADD COLUMN extra bool;",
      "ALTER TABLE s.t ADD COLUMN more float8;"))
    val (again, againJobs) = countJobs(t.evaluateTableDdlDiffs().collect())
    assert(againJobs == 0 && again.length == diff.size)
  }

  test("live-reference CSV parity golden (verified against pandas run)") {
    // Expected types produced by RUNNING the actual reference library on
    // this exact file (pandas 2.x, 2026-08-12): every edge the round-1
    // ADVICE flagged — NA tokens inside numerics, 'NaN' strings, ISO
    // offset timestamps, US datetime format, partial-date demotion,
    // the `_id` bool opt-out, and the ±2³¹ int8 boundary.
    val p = writeCsv("ref-parity",
      "num_with_na|float_col|bool_col|flag_id|date_col|ts_col|partial_date|iso_offset|us_datetime|text_col|big_int|nan_str",
      "1|1.5|t|1|2020-01-02|2020-01-02 03:04:05|March|2020-01-02T03:04:05Z|01/05/2020 13:30|hello|3000000000|NaN",
      "NULL|2.5|f|0|2021-03-04|2021-03-04 00:00:00|12:30|2021-03-04T05:06:07Z|02/06/2021 14:45|world|4000000000|1.5",
      "3|N/A|1|1|2022-05-06|2022-05-06 07:08:09|June|2022-05-06T07:08:09Z|03/07/2022 15:00|x|5000000000|2.5")
    val t = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    val got = t.metadata.get.map(m => m.field -> m.proposedName).toMap
    val want = Map(
      "num_with_na" -> "int4", "float_col" -> "float8",
      "bool_col" -> "bool", "flag_id" -> "int4",
      "date_col" -> "date", "ts_col" -> "timestamp",
      "partial_date" -> "varchar(256)", "iso_offset" -> "timestamp",
      "us_datetime" -> "timestamp", "text_col" -> "varchar(256)",
      "big_int" -> "int8", "nan_str" -> "float8")
    assert(got == want)
  }

  test("live-reference datetime-tail parity golden (day-first, dotted, month-name+time)") {
    // Expected types produced by RUNNING the actual reference on this
    // exact file (pandas 2.x + psycopg2 stub, 2026-08-12): the round-2
    // ADVICE datetime-tail formats. pd.to_datetime accepts all seven;
    // complete date-only forms land `date`, timed forms `timestamp`.
    val p = writeCsv("ref-parity3",
      "dayfirst|dayfirst_full|dotted|monthname_time|monthname_full_time|dotted_time|iso_offset_space",
      "5 Jan 2020|5 January 2020|2020.01.02|Jan 5 2020 10:30:00|January 5, 2020 10:30:00|2020.01.02 03:04:05|2020-01-02 03:04:05+01",
      "6 Feb 2021|6 February 2021|2021.03.04|Feb 6 2021 11:45:30|February 6, 2021 11:45:30|2021.03.04 05:06:07|2021-03-04 05:06:07+01")
    val t = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    val got = t.metadata.get.map(m => m.field -> m.proposedName).toMap
    val want = Map(
      "dayfirst" -> "date", "dayfirst_full" -> "date", "dotted" -> "date",
      "monthname_time" -> "timestamp", "monthname_full_time" -> "timestamp",
      "dotted_time" -> "timestamp", "iso_offset_space" -> "timestamp")
    assert(got == want)
  }

  test("live-reference edge parity golden: bool-beats-int, 240 cutover, …") {
    // Reference (pandas, run 2026-08-12) agrees on every column except
    // inf_col: it lands varchar(256) via two exception hops
    // (RAS:322-325); we deliberately return float8 (documented
    // divergence, TypeInference scaladoc).
    val l240 = "x" * 240; val l241 = "y" * 241
    val p = writeCsv("ref-parity2",
      "only01|numlike_date|len240|len241|inf_col|sci_not|neg_zero|spaces_num|mixed_case_bool|empty_and_val",
      s"0|20240305|$l240|$l241|inf|1e3|-0.0|  7 |TRUE|",
      s"1|20210101|$l240|$l241|2.5|2e-3|0.0|8|f|hello")
    val t = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    val got = t.metadata.get.map(m => m.field -> m.proposedName).toMap
    val want = Map(
      "only01" -> "bool",            // bool beats numeric (RAS:311)
      "numlike_date" -> "int4",      // numeric precedes datetime (RAS:315)
      "len240" -> "varchar(256)",    // cutover is 240, not 256 (RAS:336)
      "len241" -> "varchar(65535)",
      "inf_col" -> "float8",         // reference: varchar(256) — divergence
      "sci_not" -> "float8",
      "neg_zero" -> "int4",
      "spaces_num" -> "int4",        // whitespace-tolerant numeric parse
      "mixed_case_bool" -> "bool",
      "empty_and_val" -> "varchar(256)") // "" is an NA token, like pandas
    assert(got == want)
  }

  test("super column end-to-end: infer → DDL → catalog diff → ALTER emits super") {
    // The round-1 ADVICE `super` item, locked end-to-end: a nested
    // parquet column (array<float>) infers `super`, CREATE TABLE carries
    // the graft:super marker through the catalog, the diff round-trip is
    // clean, and — with a deployed table that LACKS the nested column —
    // generateColumnDdl emits `ADD COLUMN ... super`.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = new RedshiftAutoSchema(spark, "default", "graft_super_rt",
      fileDf = Some(emb))
    assert(full.metadata.get.find(_.field == "embedding")
      .get.proposedName == "super")
    // CREATE TABLE (Spark dialect) then diff against the live catalog
    spark.sql("DROP TABLE IF EXISTS default.graft_super_rt")
    spark.sql(graft.ddl.DdlGenerator.sparkTableDdl("default",
      "graft_super_rt", full.metadata.get))
    try {
      assert(full.evaluateTableDdlDiffs().isEmpty,
        "full round-trip must produce a clean diff")
      // deployed side missing the nested column → MISSING → ALTER super
      val partial = new RedshiftAutoSchema(spark, "default", "t",
        fileDf = Some(emb),
        deployed = Some(Seq(("vec_id", "int8"), ("label", "int4"))
          .toDF("field", "deployed_type")))
      val alter = partial.generateColumnDdl().get
      assert(alter == "ALTER TABLE default.t ADD COLUMN embedding super;")
    } finally spark.sql("DROP TABLE IF EXISTS default.graft_super_rt")
  }

  /** Writes `bytes` as `name` into a fresh directory of its own and
    * returns (file, directory): the directory read is Spark's inferring
    * read of the same file. */
  private def landed(name: String, bytes: Array[Byte]): (String, String) = {
    val dir = Files.createTempDirectory("graft-test-hdr-")
    dir.toFile.deleteOnExit()
    val f = dir.resolve(name)
    Files.write(f, bytes)
    f.toFile.deleteOnExit()
    (f.toString, dir.toString)
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  test("CSV header on the driver: same columns, types and DDL as Spark's header inference") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // (fixture, file name, bytes, encoding, header read on the driver)
    val fixtures = Seq(
      ("quoted delimiter", "q.csv",
        "\"a|b\"|c\n1|x\n2|y\n".getBytes(utf8), None, true),
      ("duplicate, empty and dotted names", "d.csv",
        "x|X|x||a.b|\n1|2|3|4|5|6\n".getBytes(utf8), None, true),
      ("leading blank lines", "b.csv",
        "\n\n   \nq|r\n1|2\n".getBytes(utf8), None, true),
      ("CRLF line ends", "crlf.csv",
        "a|b\r\n1|2.5\r\n3|4\r\n".getBytes(utf8), None, true),
      ("UTF-8 BOM", "bom.csv",
        "\uFEFFa|b\n1|2\n".getBytes(utf8), None, true),
      ("header only", "h.csv", "a|b\n".getBytes(utf8), None, true),
      ("0 bytes", "empty.csv", Array.emptyByteArray, None, false),
      ("gzip", "g.csv.gz", gzip("a|b\n1|2020-01-02\n".getBytes(utf8)),
        None, true),
      ("ISO-8859-1", "l.csv", "café|naïve\nç|1\n".getBytes(latin1),
        Some("ISO-8859-1"), true))
    def outcome[T](v: => T): Either[String, T] =
      try Right(v) catch { case e: Exception => Left(e.getClass.getName) }
    for ((label, name, bytes, enc, onDriver) <- fixtures) {
      val (file, dir) = landed(name, bytes)
      def ras(path: String) = new RedshiftAutoSchema(spark, "s", "t",
        file = Some(path), encoding = enc)
      val (fileCols, fileJobs) = countJobs(outcome(ras(file).getColumnList))
      val (dirCols, dirJobs) = countJobs(outcome(ras(dir).getColumnList))
      assert(fileCols == dirCols, s"$label: column list")
      assert(outcome(ras(file).metadata) == outcome(ras(dir).metadata),
        s"$label: metadata")
      assert(outcome(ras(file).generateTableDdl()) ==
        outcome(ras(dir).generateTableDdl()), s"$label: CREATE TABLE")
      if (onDriver)
        assert(fileJobs == 0 && dirJobs >= 1, s"$label: the file's header " +
          s"read ran $fileJobs jobs, the directory's inferring read $dirJobs")
      else assert(fileJobs == dirJobs, s"$label: falls back to the inferring read")
    }
  }

  test("parquet file: footer schema on the driver, same columns and DDL as Spark's read") {
    val p = "/root/testdata/sf0.001/lineitem.parquet"
    val byFile = new RedshiftAutoSchema(spark, "s", "t", file = Some(p))
    val byDf = new RedshiftAutoSchema(spark, "s", "t",
      fileDf = Some(spark.read.parquet(p)))
    val (cols, jobs) = countJobs(byFile.getColumnList)
    assert(jobs == 0, s"the parquet load ran $jobs jobs")
    assert(cols == byDf.getColumnList)
    assert(byFile.generateTableDdl() == byDf.generateTableDdl())
  }
}
