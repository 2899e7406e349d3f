package graft.inference

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFooterReader}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Parquet tables and landing children resolved and profiled from ONE
  * footer read per data file on the driver.
  *
  * `spark.read.parquet(p)` runs a job to merge footer schemas, and the
  * footer fast path ([[FooterProfiler]]) then reads the same footers
  * again. Here each footer is read once: Spark's own converter
  * (`ParquetFileFormat.readSchemaFromFooter`, under the session's reader
  * confs) gives the schema, [[FooterProfiler.fromFooters]] the
  * metadata-decided columns, and the reader gets the schema up front, so
  * resolving a table runs no Spark job.
  *
  * [[profileChildren]] then profiles a whole arrival of children in one
  * keyed scan per distinct schema instead of one query per child.
  */
object ParquetFooters {

  /** `f` over `xs` on at most `parallelism` threads, results in input
    * order. Spark schedules jobs from several threads natively, so jobs
    * submitted here overlap; the threads inherit the caller's local
    * properties (job group, labels). The one bounded pool of the
    * footer reads and the profile scans. */
  private[inference] def bounded[A, B](xs: Seq[A], parallelism: Int)(
      f: A => B): Seq[B] = {
    require(parallelism >= 1, s"parallelism must be >= 1: $parallelism")
    if (xs.sizeIs <= 1 || parallelism == 1) xs.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parallelism, xs.size))
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
      } finally pool.shutdown()
    }
  }

  /** Names Spark's file listing skips: `_SUCCESS`, summaries, dot files. */
  private[inference] def hidden(p: Path): Boolean =
    p.getName.startsWith("_") || p.getName.startsWith(".")

  /** One data file's footer, row groups and statistics included, read
    * with Spark's own footer reader under `conf`. (`ParquetFileReader.open`
    * on an input file builds its read options from a fresh Hadoop
    * `Configuration`, which parses the core-site resources again for
    * every footer.) */
  private[inference] def readFooter(conf: Configuration,
                                    f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The visible children of `dir`, name-sorted: each is one landed
    * file, or a directory holding one Spark write. */
  def children(spark: SparkSession, dir: String): Seq[Path] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).map(_.getPath).filterNot(hidden).sortBy(_.getName)
      .toSeq
  }

  /** The schema `spark.read.parquet(path)` resolves, from the one footer
    * of `path`, when `path` is one regular non-empty file (no glob);
    * None for anything else, which the caller leaves to Spark. */
  def fileSchema(spark: SparkSession, path: String): Option[StructType] =
    if (path.exists("*?[]{}\\".contains(_))) None
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val st = try Some(p.getFileSystem(conf).getFileStatus(p))
        catch { case _: FileNotFoundException => None }
      st.filter(s => s.isFile && s.getLen > 0 && !hidden(s.getPath)).map(s =>
        GraftParquetBridge.sparkSchema(spark, s.getPath, readFooter(conf, s)))
    }

  /** `spark.read.parquet(path)` without Spark's footer-merge job when
    * `path` is one regular file: the reader takes [[fileSchema]]. A
    * directory or a glob keeps Spark's read. */
  def read(spark: SparkSession, path: String): DataFrame =
    fileSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** A data file's path as `_metadata.file_path` and the listing both
    * name it: scheme and authority dropped, since one spells the local
    * file system `file:/` and the other `file:///`. */
  private def fileKey(p: Path): String =
    Path.getPathWithoutSchemeAndAuthority(p).toString

  /** A child whose data files share one schema: its footers' evidence. */
  private final case class Child(label: String, path: Path,
                                 files: Seq[Path], schema: StructType,
                                 decided: Seq[Option[ColumnProfile]])

  /** Profiles of parquet children (plain files, or directories of part
    * files such as one Spark write each), labelled by child name, in
    * input order; each equals
    * `ColumnProfiler.profileParquetWithCount(spark, p, spark.read.parquet(p))._2`.
    *
    * Every data file's footer is read once on the driver; it yields the
    * file's Spark schema and the columns its statistics decide.
    * Children are grouped by schema, and the undecided columns of each
    * group are profiled in ONE aggregate over
    * `spark.read.schema(s).parquet(children: _*)`, keyed by
    * `_metadata.file_path`; the part files of a directory child are
    * merged back with [[ColumnProfile.merge]]. A group costs at most 2
    * jobs (none when the footers decide every column), plus Spark's
    * parallel listing job when it has more than 32 children (the
    * `parallelPartitionDiscovery.threshold` default): 3. No job merges
    * footer schemas. A child whose data files disagree on schema, sit
    * in subdirectories or are empty keeps the per-child path.
    * `parallelism` bounds both the footer reads and the groups that run
    * at once. */
  def profileChildren(spark: SparkSession, children: Seq[Path],
                      parallelism: Int = 8)
      : Seq[(String, Seq[ColumnProfile])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // Some(data files) when a child can take the footer path
    val listed = bounded(children, parallelism) { p =>
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isFile) Seq(st)
        else fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath))
      p -> Some(files)
        .filter(xs => xs.nonEmpty && xs.forall(s => s.isFile && s.getLen > 0))
    }
    val footers = bounded(listed.flatMap(_._2.getOrElse(Nil)), parallelism)(
      readFooter(conf, _)).iterator
    val units: Seq[Either[Path, Child]] = listed.map {
      case (p, None) => Left(p)
      case (p, Some(files)) =>
        val fs = files.map(f => f -> footers.next())
        val schemas = fs.map { case (f, m) =>
          GraftParquetBridge.sparkSchema(spark, f.getPath, m) }.distinct
        if (schemas.size != 1) Left(p)
        else {
          val s = schemas.head
          val decided = FooterProfiler.fromFooters(fs.map(_._2), s) match {
            case Some((rows, perCol)) if rows > 0L && perCol.exists(_.isDefined) =>
              perCol
            case _ => s.fields.toSeq.map(_ => None)
          }
          Right(Child(p.getName, p, files.map(_.getPath), s, decided))
        }
    }
    val (fallback, fast) = units.partitionMap(identity)
    val groups: Seq[Either[Path, Seq[Child]]] =
      fallback.map(Left(_)) ++ fast.groupBy(_.schema).values.map(Right(_))
    val profiled = bounded(groups, parallelism) {
      case Left(p) => Seq(p.getName -> ColumnProfiler.profileParquetWithCount(
        spark, p.toString, spark.read.parquet(p.toString))._2)
      case Right(g) => profileGroup(spark, g)
    }.flatten.toMap
    children.map(p => p.getName -> profiled(p.getName))
  }

  /** One schema group: footer-decided columns as they are, the rest from
    * one aggregate keyed by data file, folded per child. */
  private def profileGroup(spark: SparkSession, group: Seq[Child])
      : Seq[(String, Seq[ColumnProfile])] = {
    val fields = group.head.schema.fields.toSeq
    val undecided = fields.indices.filter(i => group.exists(_.decided(i).isEmpty))
    val byFile: Map[String, Seq[ColumnProfile]] =
      if (undecided.isEmpty) Map.empty
      else {
        val rel = spark.read.schema(group.head.schema)
          .parquet(group.map(_.path.toString): _*)
        // a key name no data column has (data may hold `p_key`)
        val key = Iterator.iterate("p_key")("_" + _)
          .find(k => !fields.exists(_.name.equalsIgnoreCase(k))).get
        val keyed = rel.select(
          rel.metadataColumn("_metadata").getField("file_path").as(key) +:
            undecided.map(i => col("`" + fields(i).name.replace("`", "``") + "`")): _*)
        ColumnProfiler.profileBy(keyed, Some(key)).map { case (k, v) =>
          fileKey(SparkPath.fromUrlString(k).toPath) -> v._2 }
      }
    val unknown = byFile.keySet -- group.flatMap(_.files.map(fileKey))
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"scanned files outside the schema group: ${unknown.mkString(", ")}")
    group.map { c =>
      // a 0-row file has no key: its columns keep the zero-row profile
      val scanned = c.files.flatMap(f => byFile.get(fileKey(f)))
        .reduceOption((a, b) => a.zip(b).map { case (x, y) => x.merge(y) })
      c.label -> fields.indices.map { i =>
        c.decided(i).getOrElse {
          val j = undecided.indexOf(i)
          scanned.map(_(j)).getOrElse(ColumnProfiler.zeroRow(fields(i)))
        }
      }
    }
  }
}
