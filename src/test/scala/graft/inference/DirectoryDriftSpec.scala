package graft.inference

import graft.SparkSpec

/** Heterogeneous-directory drift inference: per-file profile →
  * semigroup merge (≡ inference over the union) → per-file report. */
class DirectoryDriftSpec extends SparkSpec {
  import spark.implicits._

  private def profiles(perFile: Seq[(String, org.apache.spark.sql.DataFrame)])
      : Seq[(String, Seq[ColumnProfile])] =
    perFile.map { case (label, df) => label -> ColumnProfiler.profile(df) }

  private def report(perFile: Seq[(String, org.apache.spark.sql.DataFrame)])
      : List[(String, String, String, String, String)] = {
    val profs = profiles(perFile)
    DirectoryDrift.driftReport(spark, profs)
      .as[(String, String, String, String, String)].collect().toList
  }

  test("int4 file vs int8 file: drift flagged, merge widens") {
    val a = Seq(1L, 2L, 3L).toDF("k")
    val b = Seq(1L + Int.MaxValue, 5L).toDF("k")
    val profs = profiles(Seq("a" -> a, "b" -> b))
    assert(DirectoryDrift.mergedSchema(profs).map(m =>
      m.field -> m.proposedName) == Seq("k" -> "int8"))
    assert(report(Seq("a" -> a, "b" -> b)) ==
      List(("a", "k", "int4", "int8", "TYPE DRIFT")))
  }

  test("merge ≡ inference over the union (the semigroup property)") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val b = Seq((3L, "2020-01-01"), (4L, "zz")).toDF("k", "s")
    val profs = profiles(Seq("a" -> a, "b" -> b))
    val merged = DirectoryDrift.mergedSchema(profs)
      .map(m => m.field -> m.proposedName)
    val direct = TypeInference.inferSchema(a.unionByName(b)).get
      .map(m => m.field -> m.proposedName)
    assert(merged == direct)
  }

  test("dropped and added columns classify MISSING per file") {
    // k values outside the bool domain: a lone 0/1 would infer bool
    val a = Seq((7L, "x")).toDF("k", "old_col")
    val b = Seq((8L, 0.5)).toDF("k", "new_col")
    val got = report(Seq("a" -> a, "b" -> b))
    assert(got == List(
      ("a", "new_col", null, "float8", "MISSING"),
      ("b", "old_col", null, "varchar(256)", "MISSING")))
  }

  test("all-null column in one file is no evidence, not drift (RAS:222)") {
    val a = Seq(Some(1.5), Some(2.5)).toDF("v")
    val b = Seq[Option[Double]](None, None).toDF("v")
    assert(report(Seq("a" -> a, "b" -> b)).isEmpty)
    // and an everywhere-null column is excluded from the report entirely
    val c = Seq[Option[String]](None).toDF("v")
    val d = Seq[Option[String]](None).toDF("v")
    assert(report(Seq("c" -> c, "d" -> d)).isEmpty)
  }

  test("mixed source kinds (int file + numeric-string file) merge numerically") {
    val a = Seq(1L, 2L).toDF("k")
    val b = Seq("3", "4").toDF("k")
    val profs = profiles(Seq("a" -> a, "b" -> b))
    assert(DirectoryDrift.mergedSchema(profs).map(m =>
      m.field -> m.proposedName) == Seq("k" -> "int4"))
    assert(report(Seq("a" -> a, "b" -> b)).isEmpty)
  }

  test("inferDirectory end-to-end over a written heterogeneous directory") {
    val dir = s"/tmp/graft-test-driftdir-${System.getProperty("user.name")}"
    Seq((7L, 10L, "p1"))
      .toDF("k", "v", "tag").write.mode("overwrite").parquet(s"$dir/f1.parquet")
    Seq((8L, 10.5))
      .toDF("k", "v").write.mode("overwrite").parquet(s"$dir/f2.parquet")
    val (merged, rep) = DirectoryDrift.inferDirectory(spark, dir)
    assert(merged.map(m => m.field -> m.proposedName) ==
      Seq("k" -> "int4", "v" -> "float8", "tag" -> "varchar(256)"))
    val rows = rep.as[(String, String, String, String, String)]
      .collect().toList
    assert(rows == List(
      ("f1.parquet", "v", "int4", "float8", "TYPE DRIFT"),
      ("f2.parquet", "tag", null, "varchar(256)", "MISSING")))
  }

  test("32-file directory: parallel profiling = serial report, ≤2 jobs per schema group") {
    val dir = s"/tmp/graft-test-driftdir32-${System.getProperty("user.name")}"
    // 32 files: every 4th is int8-wide on k, every 7th drops `tag`
    (0 until 32).foreach { i =>
      val base =
        if (i % 4 == 0) Seq((Int.MaxValue.toLong + i, s"t$i")).toDF("k", "tag")
        else Seq((i.toLong + 2, s"t$i")).toDF("k", "tag")
      val df = if (i % 7 == 0) base.drop("tag") else base
      df.write.mode("overwrite").parquet(f"$dir/f$i%02d.parquet")
    }
    // two schema groups, (k, tag) and (k): each profiles in one keyed
    // aggregate of at most 2 jobs, and no job resolves a file
    val ((mergedPar, par), jobsPar) = countJobs {
      val (m, rep) = DirectoryDrift.inferDirectory(spark, dir, parallelism = 8)
      (m, rep.as[(String, String, String, String, String)].collect().toList)
    }
    val (mergedSer, repSer) =
      DirectoryDrift.inferDirectory(spark, dir, parallelism = 1)
    assert(mergedPar == mergedSer)
    val ser = repSer.as[(String, String, String, String, String)]
      .collect().toList
    assert(par == ser && par.nonEmpty)
    // int8 drift on the narrow files, MISSING tag on the dropped ones
    assert(par.exists(_._5 == "TYPE DRIFT"))
    assert(par.exists(_._5 == "MISSING"))
    val groups = 2
    assert(jobsPar <= 2 * groups,
      s"expected at most 2 jobs per schema group, ran $jobsPar")
  }
}
