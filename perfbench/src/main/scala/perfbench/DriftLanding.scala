package perfbench

import java.io.File
import java.nio.file.Files
import scala.util.Random

import graft.inference.{ColumnProfile, DirectoryDrift, LandingManifest}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrival batches into a landing directory of small parquet files.
  *
  * Generation 0 is already landed when a pass starts; the pass first
  * infers the whole directory, then lands generation 0..G-1 one batch at
  * a time: read the manifest, profile the newcomers against it, write
  * the manifest back. Every generation drifts from the ones before it:
  *   - `qty` is fractional in half of generation 0 and integral after;
  *   - `user_id` outgrows int4 in generations 0-1, fits int4 after;
  *   - `legacy_code` is dropped from generation 2 on;
  *   - `channel` is added from generation 2 on;
  *   - `note` is all-null in some files (no evidence, never drift).
  */
final class DriftLanding(seed: Long, generations: Int, filesPerGen: Int,
                         rows: Int, parallelism: Int) extends Workload {
  def name = "drift_landing"

  /** (file name, generation, (field, Spark type, Redshift type) per column). */
  private type FileSpec = (String, Int, Seq[(String, DataType, String)])
  private var specs: Seq[FileSpec] = Seq.empty
  private var staging: File = _
  private var passRoot: File = _

  private def fileSpec(g: Int, i: Int, r: Random): FileSpec = {
    val fractional = g == 0 && i % 2 == 0
    val cols = Seq.newBuilder[(String, DataType, String)]
    cols += (("event_ts", TimestampType, "timestamp"))
    cols += (("user_id", LongType, if (g < 2) "int8" else "int4"))
    cols += (("qty", if (fractional) DoubleType else LongType,
      if (fractional) "float8" else "int4"))
    cols += (("price", DoubleType, "float8"))
    cols += (("day", DateType, "date"))
    cols += (("active", BooleanType, "bool"))
    if (g < 2) cols += (("legacy_code", StringType, "varchar(256)"))
    if (g >= 2) cols += (("channel", StringType, "varchar(256)"))
    cols += (("note", StringType, if (r.nextInt(3) == 0) "notype" else "varchar(256)"))
    (f"g$g%02d_f$i%02d.parquet", g, cols.result())
  }

  private def rowsFor(spec: FileSpec, r: Random): Seq[Row] =
    (0 until rows).map { k =>
      Row.fromSeq(spec._3.map {
        case ("event_ts", _, _) =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            if (k == 0) 946731600L else 946684800L + r.nextInt(700000000)))
        case ("user_id", _, "int8") =>
          if (k == 0) 5000000000L else r.nextInt(1000000).toLong
        case ("user_id", _, _) => 2L + r.nextInt(1000000)
        case ("qty", DoubleType, _) =>
          if (k == 0) 0.25 else math.rint(r.nextDouble() * 4000) / 4
        case ("qty", _, _) => 2L + r.nextInt(500)
        case ("price", _, _) =>
          if (k == 0) 0.75 else 0.5 + r.nextInt(100000) / 100.0
        case ("day", _, _) =>
          java.sql.Date.valueOf(java.time.LocalDate.of(2010, 1, 1)
            .plusDays(r.nextInt(4000)))
        case ("active", _, _) => r.nextBoolean()
        case ("note", _, "notype") => null
        case (_, _, _) =>
          val n = 2 + r.nextInt(20)
          new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
      })
    }

  def prepare(spark: SparkSession, dir: File): Seq[(String, Any)] = {
    val r = new Random(seed)
    staging = new File(dir, "staging")
    passRoot = new File(dir, "passes")
    staging.mkdirs(); passRoot.mkdirs()
    specs = for (g <- 0 until generations; i <- 0 until filesPerGen)
      yield fileSpec(g, i, r)
    // one write per distinct schema, one file per landed name
    val tmp = new File(dir, "write")
    specs.groupBy(s => s._3.map(c => (c._1, c._2))).values.toSeq
        .sortBy(_.head._1).foreach { group =>
      val schema = StructType(StructField("__file", StringType) +:
        group.head._3.map(c => StructField(c._1, c._2)))
      val data = group.flatMap(s => rowsFor(s, r).map(row =>
        Row.fromSeq(s._1 +: row.toSeq)))
      spark.createDataFrame(
        java.util.Arrays.asList(data: _*), schema).coalesce(1)
        .write.mode("overwrite").partitionBy("__file")
        .parquet(tmp.getAbsolutePath)
      for (s <- group) {
        val part = new File(tmp, s"__file=${s._1}").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, new File(staging, s._1).toPath)
      }
      Util.deleteRecursively(tmp)
    }
    Seq("generations" -> generations, "files" -> specs.size,
      "rows_per_file" -> rows, "columns" -> specs.map(_._3.size).max,
      "bytes" -> Util.sizeOf(staging))
  }

  // ---- ground truth ----

  private val numericRank = Map("int4" -> 0, "int8" -> 1, "float8" -> 2)
  private def widen(a: String, b: String): String =
    if (a == "notype") b else if (b == "notype" || a == b) a
    else (numericRank.get(a), numericRank.get(b)) match {
      case (Some(x), Some(y)) => if (x >= y) a else b
      case _ => sys.error(s"generator drew incompatible types $a, $b")
    }

  /** Merged (field, type) over `files`, in first-appearance order. */
  private def merged(files: Seq[FileSpec]): Seq[(String, String)] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (f <- files.sortBy(_._1); (c, _, t) <- f._3)
      acc(c) = acc.get(c).map(widen(_, t)).getOrElse(t)
    acc.toSeq
  }

  /** Drift rows of `newcomers` against the merge over `all`. */
  private def driftRows(all: Seq[FileSpec], newcomers: Seq[FileSpec])
      : Set[(String, String, Option[String], String, String)] = {
    val m = merged(all).filter(_._2 != "notype")
    (for {
      f <- newcomers
      types = f._3.map(c => c._1 -> c._3).toMap
      (field, mt) <- m
      row <- types.get(field) match {
        case None => Some((f._1, field, None, mt, "MISSING"))
        case Some("notype") => None
        case Some(ft) if ft != mt => Some((f._1, field, Some(ft), mt, "TYPE DRIFT"))
        case _ => None
      }
    } yield row).toSet
  }

  private def reportRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getString(2)), r.getString(3), r.getString(4))).toSet

  private def gen(g: Int) = specs.filter(_._2 == g)

  // ---- operations ----

  private def link(files: Seq[FileSpec], landing: File): Unit =
    files.foreach(f => Files.createLink(new File(landing, f._1).toPath,
      new File(staging, f._1).toPath))

  private def inferOp(spark: SparkSession, landing: File): Unit = {
    val (schema, report) = Trace.layer(spark, "inference") {
      val (s, rep) = DirectoryDrift.inferDirectory(spark,
        landing.getAbsolutePath, parallelism)
      (s, reportRows(rep))
    }
    Check.equal("merged schema", schema.map(m => m.field -> m.proposedName),
      merged(gen(0)))
    Check.equal("directory drift", report, driftRows(gen(0), gen(0)))
  }

  private def arriveOp(spark: SparkSession, g: Int, landing: File,
                       manifest: File): Unit = {
    val stored: Seq[(String, Seq[ColumnProfile])] =
      if (g == 0) Seq.empty
      else Trace.layer(spark, "manifest.read")(
        LandingManifest.read(spark, manifest.getAbsolutePath))
    Check.equal("manifest files", stored.map(_._1),
      (0 until g).flatMap(gen).map(_._1))
    val (fresh, report) = Trace.layer(spark, "inference") {
      val (n, rep) = LandingManifest.driftSince(spark, stored,
        landing.getAbsolutePath, parallelism)
      (n, reportRows(rep))
    }
    Check.equal("newcomers", fresh.map(_._1), gen(g).map(_._1))
    Check.equal(s"drift of generation $g", report,
      driftRows((0 to g).flatMap(gen), gen(g)))
    Trace.layer(spark, "manifest.write")(
      LandingManifest.write(spark, manifest.getAbsolutePath, stored ++ fresh))
  }

  private def passOps(spark: SparkSession, n: Int): Seq[Op] = {
    val dir = new File(passRoot, s"p$n")
    val landing = new File(dir, "landing")
    val manifest = new File(dir, "manifest")
    Op("infer_g00", () => inferOp(spark, landing), () => {
      Util.deleteRecursively(dir)
      landing.mkdirs()
      link(gen(0), landing)
    }) +: (0 until generations).map { g =>
      Op(f"arrive_g$g%02d", () => arriveOp(spark, g, landing, manifest),
        () => if (g > 0) link(gen(g), landing))
    }
  }

  def checkPass(spark: SparkSession): (Int, Seq[(String, String)]) = {
    val ops = passOps(spark, -1)
    val fails = ops.flatMap { op =>
      try { op.prep(); op.run(); None }
      catch { case e: Throwable => Some(op.id -> Util.cause(e)) }
    }
    afterPass(-1)
    (ops.size, fails)
  }

  def pass(spark: SparkSession, n: Int): Seq[Op] = passOps(spark, n)

  override def afterPass(n: Int): Unit =
    Util.deleteRecursively(new File(passRoot, s"p$n"))

  /** For the harness self-test: claim one more drift than was planted. */
  def corruptTruth(): Unit = {
    val (f, g, cols) = specs.head
    specs = specs.updated(0, (f, g, cols.map {
      case ("price", t, _) => ("price", t, "int4")
      case c => c
    }))
  }
}
