package graft.inference

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Incremental landing-zone manifest: profile round-trip, semigroup
  * equivalence with full re-profiling, only-new-files scan cost, and the
  * driver-side parquet I/O against Spark's own reader and writer. */
class LandingManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    s"/tmp/graft-test-manifest-$name-${System.getProperty("user.name")}"

  /** The manifest rows of `entries`, as Spark reads them. */
  private def manifestRows(entries: Seq[(String, Seq[ColumnProfile])]): Seq[Row] =
    for {
      (file, ps) <- entries
      (p, i) <- ps.zipWithIndex
    } yield Row(file, i, p.field, p.sourceType.sql, p.identifier,
      p.nonNull, p.boolDomain, p.numericCount, p.intCount, p.integral,
      p.minD.orNull, p.maxD.orNull, p.tsCount, p.allMidnight,
      p.maxLen.orNull, p.complex, p.bigObjCount)

  /** The reference writer: the manifest frame as Spark writes it, in
    * three part files beside their `.crc` files and `_SUCCESS`. */
  private def sparkWrite(path: String,
                         entries: Seq[(String, Seq[ColumnProfile])]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(manifestRows(entries): _*),
        LandingManifest.manifestSchema)
      .repartition(3).write.mode("overwrite").parquet(path)

  private def profile(field: String, dt: DataType, minD: Option[Double],
                      maxD: Option[Double], maxLen: Option[Long]) =
    ColumnProfile(field = field, sourceType = dt, identifier = false,
      nonNull = 3L, boolDomain = false, numericCount = 2L, intCount = 2L,
      integral = true, minD = minD, maxD = maxD, tsCount = 1L,
      allMidnight = true, maxLen = maxLen, complex = false, bigObjCount = 1L)

  /** Entries over the edges: no min/max/len, infinite and -0.0 bounds,
    * nested and wide source types, names Spark would need quoted. */
  private val edges: Seq[(String, Seq[ColumnProfile])] = Seq(
    "b file.parquet" -> Seq(
      profile("a`b", DecimalType(38, 0), None, None, None),
      profile("c.d", ArrayType(StructType(Seq(
        StructField("x y", IntegerType), StructField("z`", StringType)))),
        Some(Double.NegativeInfinity), Some(Double.PositiveInfinity), Some(0L)),
      profile("e f", MapType(StringType, LongType), Some(-0.0), Some(0.0),
        Some(Long.MaxValue)),
      profile("größe_é", TimestampNTZType, Some(Double.MinValue),
        Some(Double.MaxValue), Some(12L))),
    "a.parquet" -> Seq(profile("k", LongType, Some(1.0), Some(2.0), None)))

  private def sorted(es: Seq[(String, Seq[ColumnProfile])]) = es.sortBy(_._1)

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

  test("a manifest of Spark's writer (3 parts, .crc, _SUCCESS) reads back equal") {
    val path = tmp("spark-written")
    sparkWrite(path, edges)
    val names = new java.io.File(path).list().toSet
    assert(names.count(_.endsWith(".parquet")) == 3 &&
      names("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(LandingManifest.read(spark, path) == sorted(edges))
  }

  test("a driver-written manifest reads back equal through Spark's reader") {
    val path = tmp("driver-written")
    LandingManifest.write(spark, path, edges)
    val names = new java.io.File(path).list().toSet
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 1 &&
      names("_SUCCESS"), names)
    assert(spark.read.schema(LandingManifest.manifestSchema).parquet(path)
      .collect().toSet == manifestRows(edges).toSet)
    // the manifest schema made nullable, as Spark exposes a file source
    assert(spark.read.parquet(path).schema == StructType(
      LandingManifest.manifestSchema.fields.map(_.copy(nullable = true))))
  }

  test("write then read runs no Spark job") {
    val path = tmp("jobs")
    val (back, jobs) = countJobs {
      LandingManifest.write(spark, path, edges)
      LandingManifest.read(spark, path)
    }
    assert(back == sorted(edges))
    assert(jobs == 0, s"manifest write + read ran $jobs jobs")
  }

  test("edge cases round-trip: no entries, null/infinite/-0.0 bounds, types, names") {
    val path = tmp("edges")
    LandingManifest.write(spark, path, Seq.empty)
    assert(LandingManifest.read(spark, path).isEmpty)
    LandingManifest.write(spark, path, edges)
    val back = LandingManifest.read(spark, path)
    assert(back == sorted(edges))
    // == on boxed doubles equates -0.0 and 0.0: check the sign bit
    val neg = back.find(_._1 == "b file.parquet").get._2(2).minD.get
    assert(java.lang.Double.doubleToRawLongBits(neg) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    // a shorter manifest replaces a longer one with no stale rows
    val short = Seq("a.parquet" -> edges(1)._2)
    LandingManifest.write(spark, path, short)
    assert(LandingManifest.read(spark, path) == short)
    assert(new java.io.File(path).list().count(_.endsWith(".parquet")) == 1)
    // the write is staged beside the manifest and leaves nothing there
    assert(new java.io.File(path).getParentFile.list()
      .forall(n => !n.startsWith(s".${new java.io.File(path).getName}-")))
  }
}
