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
    val gen1 = ParquetFooters.profileChildren(spark,
      Seq("g1a.parquet", "g1b.parquet", "g1c.parquet")
        .map(f => new org.apache.hadoop.fs.Path(s"$dir/$f")))
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
    // the new files form two schema groups: (k, s) scans its string
    // column in one keyed aggregate, g2b (k only) is footer-only
    assert(jobs <= 2, s"expected ≤2 jobs for one scanned schema group, got $jobs")
    // equivalence with profiling the whole directory from scratch
    val ((_, fullRep), _) =
      countJobs(DirectoryDrift.inferDirectory(spark, dir))
    val expected = fullRep
      .filter($"file".isin("g2a.parquet", "g2b.parquet"))
      .as[(String, String, String, String, String)].collect().toList
    assert(report == expected && report.nonEmpty)
    // only newcomers are scanned: the incremental run reads g2a's one
    // row, the full re-profile the four rows of g1a-g1c and g2a
    val (_, _, readNew) = jobTrace(LandingManifest.driftSince(spark, manifest, dir))
    val (_, _, readFull) = jobTrace(DirectoryDrift.inferDirectory(spark, dir))
    assert(readNew == 1L && readFull == 4L,
      s"incremental run must read only newcomer rows: $readNew of $readFull")
    // merged corpus profiles match the from-scratch merge
    val fullProfiles = ParquetFooters.profileChildren(spark,
      Seq("g1a.parquet", "g1b.parquet", "g1c.parquet",
        "g2a.parquet", "g2b.parquet").map(f =>
        new org.apache.hadoop.fs.Path(s"$dir/$f")))
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
