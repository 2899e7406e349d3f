package graft.inference

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.crypto.{DecryptionPropertiesFactory, FileDecryptionProperties}
import org.apache.spark.sql.DataFrame

/** One footer read per data file: the footer schema equals Spark's
  * resolved schema, and a landing arrival profiled in one keyed scan per
  * schema group equals profiling each child on its own. */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private val root =
    new File(s"/tmp/graft-test-pqfooters-${System.getProperty("user.name")}")

  private def fresh(name: String): File = {
    val d = new File(root, name)
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(d); d.mkdirs(); d
  }

  /** `df` landed as ONE plain parquet file `dir/name`. */
  private def plainFile(df: DataFrame, dir: File, name: String): Unit = {
    val tmp = new File(root, "write-tmp")
    df.repartition(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(dir, name).toPath)
  }

  /** The per-child reference: its own read, its own footer fast path. */
  private def reference(dir: File, name: String): Seq[ColumnProfile] = {
    val p = new File(dir, name).getPath
    ColumnProfiler.profileParquetWithCount(spark, p, spark.read.parquet(p))._2
  }

  private def children(dir: File): Seq[Path] =
    ParquetFooters.children(spark, dir.getPath)

  test("footer schema == spark.read.parquet schema for every testdata table") {
    val tables = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      f <- Option(new File(s"/root/testdata/$sf").listFiles()).toSeq.flatten
      if f.getName.endsWith(".parquet")
    } yield f.getPath
    assert(tables.nonEmpty)
    for (p <- tables) {
      val (got, jobs) = countJobs(ParquetFooters.fileSchema(spark, p))
      val want = spark.read.parquet(p).schema
      assert(got.contains(want), s"$p: $got != $want")
      assert(got.get.fields.map(_.metadata) sameElements want.fields.map(_.metadata))
      assert(jobs == 0, s"$p: resolving from the footer ran $jobs jobs")
      assert(spark.read.schema(got.get).parquet(p).schema == want)
    }
    // a directory or a glob is left to Spark
    assert(ParquetFooters.fileSchema(spark, "/root/testdata/sf0.01").isEmpty)
    assert(ParquetFooters.fileSchema(spark, "/root/testdata/sf0.01/*.parquet").isEmpty)
  }

  test("keyed profiles == per-child profiles: plain files, write dirs, edge columns") {
    val dir = fresh("landing")
    val rows = Seq(
      (1L, 0.5, "abc", Option.empty[String]),
      (2L, Double.NaN, "2020-01-01", None),
      (Long.MaxValue, 7.0, "12", None))
    val mixed = rows.toDF("k", "x", "s", "note")
    // group 1 (k, x, s, note): names with a space, '%' and '=', a Spark
    // write directory of several part files plus _SUCCESS (merged per
    // part file, all-null `note` in every part), a 0-row file; `note` is
    // all-null throughout and `x` holds NaN
    plainFile(mixed, dir, "plain a.parquet")
    plainFile(mixed.limit(1), dir, "pct%50.parquet")
    Seq((5L, 1.0, "t", Option.empty[String]), (6L, Double.NaN, "f", None),
        (7L, 2.0, "true", None), (8L, 3.0, "0", None))
      .toDF("k", "x", "s", "note").repartition(3)
      .write.parquet(new File(dir, "k=v dir%.parquet").getPath)
    plainFile(mixed.limit(0), dir, "empty.parquet")
    // group 2: all numeric, decided by the footer alone
    plainFile(Seq((1L, 0.5), (9L, -2.25)).toDF("k", "x"), dir, "numeric.parquet")
    // group 3: a data column named `_metadata`
    plainFile(Seq((3L, "m1"), (4L, "m2")).toDF("k", "_metadata"), dir,
      "meta.parquet")
    assert(new File(dir, "k=v dir%.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) >= 2)
    assert(new File(dir, "k=v dir%.parquet/_SUCCESS").exists())

    val (got, jobs) = countJobs(ParquetFooters.profileChildren(spark, children(dir)))
    assert(got.map(_._1) == Seq("empty.parquet", "k=v dir%.parquet",
      "meta.parquet", "numeric.parquet", "pct%50.parquet", "plain a.parquet"))
    for ((name, profiles) <- got)
      assert(profiles == reference(dir, name), s"child $name")
    // groups 1 and 3 scan, group 2 is footer-only
    assert(jobs <= 2 * 2, s"expected at most 2 jobs per scanned group, ran $jobs")
    val (_, names, _) = jobTrace(ParquetFooters.profileChildren(spark, children(dir)))
    assert(!names.exists(_.startsWith("parquet at")),
      s"a footer-merge job ran: ${names.mkString(", ")}")

    // the all-numeric child alone: no job at all
    val (numeric, numericJobs) = countJobs(ParquetFooters.profileChildren(
      spark, Seq(new Path(new File(dir, "numeric.parquet").getPath))))
    assert(numericJobs == 0)
    assert(numeric.head._2 == reference(dir, "numeric.parquet"))
  }

  test("a child whose files disagree on schema keeps the per-child path") {
    val dir = fresh("drifted")
    val child = new File(dir, "mixed.parquet").getPath
    Seq((1L, 0.5)).toDF("k", "x").repartition(1).write.parquet(child)
    Seq((2L, 1.5, "t")).toDF("k", "x", "s").repartition(1)
      .write.mode("append").parquet(child)
    plainFile(Seq((3L, 2.5)).toDF("k", "x"), dir, "plain.parquet")
    val got = ParquetFooters.profileChildren(spark, children(dir))
    for ((name, profiles) <- got)
      assert(profiles == reference(dir, name), s"child $name")
  }

  test("more than 32 children in one group: one listing job plus the aggregate") {
    val dir = fresh("wide")
    val tmp = new File(root, "write-parts")
    spark.range(40).selectExpr("id AS k", "CAST(id * 3 AS STRING) AS s", "id AS f")
      .repartition(1).write.mode("overwrite").partitionBy("f").parquet(tmp.getPath)
    (0 until 40).foreach { i =>
      val part = new File(tmp, s"f=$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new File(dir, f"c$i%02d.parquet").toPath)
    }
    val ((got, jobs), (_, names, _)) = {
      val counted = countJobs(ParquetFooters.profileChildren(spark, children(dir)))
      (counted, jobTrace(ParquetFooters.profileChildren(spark, children(dir))))
    }
    assert(got.size == 40)
    for ((name, profiles) <- got)
      assert(profiles == reference(dir, name), s"child $name")
    // Spark lists more than 32 root paths in a job of its own
    assert(jobs <= 3, s"expected the listing job and at most 2 more, ran $jobs")
    assert(names.count(_.startsWith("Listing leaf files")) == 1, names.mkString(", "))
    assert(!names.exists(_.startsWith("parquet at")), names.mkString(", "))
  }

  test("a footer is read under the session's Hadoop conf") {
    // the decryption factory is loaded from the conf the reader is given;
    // a footer read that builds its own fresh conf never sees it
    val conf = spark.sparkContext.hadoopConfiguration
    val key = DecryptionPropertiesFactory.CRYPTO_FACTORY_CLASS_PROPERTY_NAME
    val dir = fresh("conf")
    plainFile(Seq((1L, "a")).toDF("k", "s"), dir, "one.parquet")
    val p = new File(dir, "one.parquet").getPath
    conf.set(key, classOf[CountingDecryptionFactory].getName)
    try {
      CountingDecryptionFactory.calls.set(0)
      assert(ParquetFooters.fileSchema(spark, p).isDefined)
      assert(CountingDecryptionFactory.calls.get == 1)
    } finally conf.unset(key)
  }
}

/** Counts the footer reads that consult the configured decryption
  * factory; returns no decryption properties (plaintext files). */
class CountingDecryptionFactory extends DecryptionPropertiesFactory {
  override def getFileDecryptionProperties(hadoopConfig: Configuration,
                                           filePath: Path): FileDecryptionProperties = {
    CountingDecryptionFactory.calls.incrementAndGet()
    null
  }
}

object CountingDecryptionFactory {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
