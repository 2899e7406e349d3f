package graft.inference

import graft.SparkSpec

/** Incremental landing-zone manifest: profile round-trip, semigroup
  * equivalence with full re-profiling, and only-new-files scan cost. */
class LandingManifestSpec extends SparkSpec {
  import spark.implicits._

  test("manifest round-trips profiles exactly") {
    val df = Seq(
      (1L, 0.5, "abc", Some(2.5)), (2L, -1.25, "2020-01-01", None)
    ).toDF("k", "x", "s", "opt")
    val entries = Seq("f1" -> ColumnProfiler.profile(df))
    val path = s"/tmp/graft-test-manifest-rt-${System.getProperty("user.name")}"
    LandingManifest.write(spark, path, entries)
    assert(LandingManifest.read(spark, path) == entries)
  }

  test("driftSince == full re-profile restricted to newcomers; only new files scanned") {
    val dir = s"/tmp/graft-test-manifest-dir-${System.getProperty("user.name")}"
    val fs = new java.io.File(dir)
    if (fs.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(fs)
    }
    // generation 1: three files (string column forces one scan job per
    // profiled file — numeric columns ride the footer fast path)
    Seq((1L, "a")).toDF("k", "s").repartition(1)
      .write.parquet(s"$dir/g1a.parquet")
    Seq((2L, "b")).toDF("k", "s").repartition(1)
      .write.parquet(s"$dir/g1b.parquet")
    Seq((3L, "c")).toDF("k", "s").repartition(1)
      .write.parquet(s"$dir/g1c.parquet")
    val gen1 = DirectoryDrift.profileFiles(Seq(
      "g1a.parquet" -> spark.read.parquet(s"$dir/g1a.parquet"),
      "g1b.parquet" -> spark.read.parquet(s"$dir/g1b.parquet"),
      "g1c.parquet" -> spark.read.parquet(s"$dir/g1c.parquet")))
    val mpath = s"/tmp/graft-test-manifest-store-${System.getProperty("user.name")}"
    LandingManifest.write(spark, mpath, gen1)
    // generation 2: one widened file, one with a dropped column
    Seq((Int.MaxValue.toLong + 9, "d")).toDF("k", "s").repartition(1)
      .write.parquet(s"$dir/g2a.parquet")
    Seq(4L).toDF("k").repartition(1)
      .write.parquet(s"$dir/g2b.parquet")
    val manifest = LandingManifest.read(spark, mpath)
    val ((newEntries, report), jobs) = countJobs {
      val (ne, rep) = LandingManifest.driftSince(spark, manifest, dir)
      (ne, rep.as[(String, String, String, String, String)]
        .collect().toList)
    }
    assert(newEntries.map(_._1) == Seq("g2a.parquet", "g2b.parquet"))
    // per NEW file: one schema/footer read + at most one fused scan
    // (string column; g2b is all-numeric → footer-only) — and NOTHING
    // for the three gen-1 files
    assert(jobs <= 4, s"expected ≤2 jobs per new file (new files only), got $jobs")
    // equivalence with profiling the whole directory from scratch —
    // which must cost strictly more jobs (it re-reads gen-1)
    val ((_, fullRep), jobsFull) =
      countJobs(DirectoryDrift.inferDirectory(spark, dir))
    val expected = fullRep
      .filter($"file".isin("g2a.parquet", "g2b.parquet"))
      .as[(String, String, String, String, String)].collect().toList
    assert(report == expected && report.nonEmpty)
    assert(jobs < jobsFull,
      s"incremental run ($jobs jobs) must undercut full re-profile ($jobsFull)")
    // merged corpus profiles match the from-scratch merge
    val fullProfiles = DirectoryDrift.profileFiles(
      Seq("g1a.parquet", "g1b.parquet", "g1c.parquet",
        "g2a.parquet", "g2b.parquet").map(f =>
        f -> spark.read.parquet(s"$dir/$f")))
    assert(DirectoryDrift.mergeProfiles(manifest ++ newEntries) ==
      DirectoryDrift.mergeProfiles(fullProfiles))
    // second run with the updated manifest: nothing new, zero jobs
    val ((ne2, rep2), jobs2) = countJobs {
      LandingManifest.driftSince(spark, manifest ++ newEntries, dir)
    }
    assert(jobs2 == 0,
      s"expected no scan jobs on an unchanged directory, got $jobs2")
    assert(ne2.isEmpty && rep2.count() == 0L)
  }
}
