package graft.inference

import graft.SparkSpec

/** Parquet-footer fast path: numeric columns decide from row-group
  * metadata with profiles IDENTICAL to the fused scan's, and an
  * all-numeric table profiles with zero Spark jobs. */
class FooterProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("mixed table: footer-hybrid profiles == full-scan profiles") {
    val dir = s"/tmp/graft-test-footer-mixed-${System.getProperty("user.name")}"
    val df = Seq(
      (1L, 3, 1.5, 2.0, "abc", Some(Double.NaN), Option.empty[Long], 0L),
      (2L, -7, -0.25, 5.0, "2020-01-01", Some(1.5), None, 1L),
      (Long.MaxValue, 0, 99.75, 7.0, "zz", None, None, 0L)
    ).toDF("k", "i", "frac", "whole", "s", "nand", "allnull", "flag_id")
    df.repartition(1).write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    val (rowsFast, fast) =
      ColumnProfiler.profileParquetWithCount(spark, dir, read)
    val (rowsScan, scan) = ColumnProfiler.profileWithCount(read)
    assert(rowsFast == rowsScan)
    assert(fast == scan)
    // and the decisions: k int8, i int4, frac/whole float8... whole is
    // integral-looking → scanned → int4; nand has NaN → scanned
    val named = fast.map(p => p.field -> TypeInference.decide(p).name).toMap
    assert(named("k") == "int8" && named("i") == "int4")
    assert(named("frac") == "float8" && named("whole") == "int4")
    assert(named("nand") == "float8" && named("allnull") == "notype")
    assert(named("flag_id") == "int4") // _id opt-out beats bool domain
  }

  test("all-string remainder profiles melted == full-scan profiles") {
    val dir = s"/tmp/graft-test-footer-strrem-${System.getProperty("user.name")}"
    val df = Seq(
      (1L, 1.5, "abc", Option("12"), "2020-01-01 10:00:00"),
      (2L, -0.25, "NaN", Option.empty[String], "2020-01-02"),
      (7L, 99.75, "9223372036854775808", Option("-3"), "x")
    ).toDF("k", "frac", "s", "num", "when")
    df.repartition(1).write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    val Some((_, perCol)) = FooterProfiler.footerProfiles(spark, dir, read.schema)
    // the footers decide the numeric columns, so the scanned remainder
    // is three strings: the melted path
    assert(perCol.map(_.isDefined) == Seq(true, true, false, false, false))
    val (rowsFast, fast) =
      ColumnProfiler.profileParquetWithCount(spark, dir, read)
    val (rowsScan, scan) = ColumnProfiler.profileWide(read)(ColumnProfiler.Unkeyed)
    assert(rowsFast == rowsScan)
    assert(fast == scan)
  }

  test("all-numeric table: zero Spark jobs, inference unchanged") {
    val dir = s"/tmp/graft-test-footer-numeric-${System.getProperty("user.name")}"
    val df = Seq(
      (1L, 5, 0.5), (2L, 6, -1.25), (3L, 7, 2.75)
    ).toDF("k", "n", "x")
    df.repartition(2).write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    val expected = TypeInference.inferSchema(read).get
      .map(m => m.field -> m.proposedName)
    val (got, jobs) = countJobs {
      TypeInference.inferSchemaParquet(spark, dir, read).get
        .map(m => m.field -> m.proposedName)
    }
    assert(got == expected)
    assert(got == Seq("k" -> "int4", "n" -> "int4", "x" -> "float8"))
    assert(jobs == 0, s"expected footer-only profiling, ran $jobs jobs")
  }

  test("bool domain from footer range; all-null int column is notype") {
    val dir = s"/tmp/graft-test-footer-bool-${System.getProperty("user.name")}"
    Seq((0L, Option.empty[Int]), (1L, None), (1L, None), (0L, None))
      .toDF("b", "dead").repartition(1).write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    val (got, jobs) = countJobs {
      TypeInference.inferSchemaParquet(spark, dir, read).get
        .map(m => m.field -> m.proposedName)
    }
    assert(got == Seq("b" -> "bool", "dead" -> "notype"))
    assert(jobs == 0)
    assert(got == TypeInference.inferSchema(read).get
      .map(m => m.field -> m.proposedName))
  }

  test("multi-file same schema aggregates; drifted schema falls back") {
    val dir = s"/tmp/graft-test-footer-multi-${System.getProperty("user.name")}"
    Seq((1L, 0.5)).toDF("k", "x").repartition(1)
      .write.mode("overwrite").parquet(dir)
    Seq((Int.MaxValue.toLong + 5, 1.25)).toDF("k", "x").repartition(1)
      .write.mode("append").parquet(dir)
    val read = spark.read.parquet(dir)
    val (got, jobs) = countJobs {
      TypeInference.inferSchemaParquet(spark, dir, read).get
        .map(m => m.field -> m.proposedName)
    }
    assert(got == Seq("k" -> "int8", "x" -> "float8"))
    assert(jobs == 0)
    // heterogeneous directory (extra column in one file) → footer path
    // declines, scan path answers
    val dir2 = s"/tmp/graft-test-footer-drift-${System.getProperty("user.name")}"
    Seq((1L, 0.5)).toDF("k", "x").repartition(1)
      .write.mode("overwrite").parquet(dir2)
    Seq((2L, 1.5, "t")).toDF("k", "x", "s").repartition(1)
      .write.mode("append").parquet(dir2)
    val read2 = spark.read.option("mergeSchema", "true").parquet(dir2)
    val profs = ColumnProfiler.profileParquetWithCount(spark, dir2, read2)._2
    assert(profs.map(_.field).toSet == Set("k", "x", "s"))
  }
}
