package graft.inference

import java.io.IOException
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SPARK_VERSION_SHORT
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Incremental landing-zone manifest: persist the per-file
  * [[ColumnProfile]] rows (driver-sized — one row per (file, column),
  * KBs even for thousands of files), so the NEXT arrival of files in a
  * landing directory profiles only the unseen ones and still answers
  * with full-corpus semantics.
  *
  * This works because the profile is a proven SEMIGROUP
  * ([[ColumnProfile.merge]], spec-pinned): merging stored generation-1
  * profiles with freshly-scanned generation-2 profiles is EXACTLY the
  * profile of the union — so the drift report for the newcomers (the
  * reference's RedshiftAutoSchema.py:202-225 vocabulary: MISSING /
  * TYPE DRIFT, notype = no evidence) is identical to re-profiling the
  * whole directory, at the scan cost of only the new files.
  *
  * The manifest is schema-sized, so [[write]] and [[read]] do its
  * parquet I/O on the driver with parquet-mr and run no Spark job: the
  * scan of the newcomers in [[driftSince]] is an arrival's only Spark
  * work.
  *
  * 100 TB shape: a year-old landing zone re-profiles nothing; each
  * incremental run reads only the day's arrivals (footer fast path
  * included), and the manifest grows by a few rows per file. One
  * writer on the driver is what Spark's `coalesce(1)` write was too. */
object LandingManifest {

  /** Manifest schema (stable, versionable). `ordinal` preserves
    * per-file column order; `source_type` is the Spark DDL string
    * (round-trips via DataType.fromDDL). */
  val manifestSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("ordinal", IntegerType, nullable = false),
    StructField("field", StringType, nullable = false),
    StructField("source_type", StringType, nullable = false),
    StructField("identifier", BooleanType, nullable = false),
    StructField("non_null", LongType, nullable = false),
    StructField("bool_domain", BooleanType, nullable = false),
    StructField("numeric_count", LongType, nullable = false),
    StructField("int_count", LongType, nullable = false),
    StructField("integral", BooleanType, nullable = false),
    StructField("min_d", DoubleType, nullable = true),
    StructField("max_d", DoubleType, nullable = true),
    StructField("ts_count", LongType, nullable = false),
    StructField("all_midnight", BooleanType, nullable = false),
    StructField("max_len", LongType, nullable = true),
    StructField("complex", BooleanType, nullable = false),
    StructField("big_obj_count", LongType, nullable = false)))

  /** Persist a manifest, replacing any earlier one: a directory at
    * `manifestPath` holding one `part-*.parquet` file and a `_SUCCESS`
    * marker, the layout Spark's `coalesce(1).write` gives, Spark's
    * schema metadata included. Written on the driver with parquet-mr,
    * so no Spark job runs. The parquet schema is Spark's conversion of
    * [[manifestSchema]] and the codec `spark.sql.parquet.compression.codec`,
    * both under the active session's conf. The file is staged in a
    * hidden sibling directory and renamed into place, so a crashed run
    * leaves the old manifest or none, never a half-written one. */
  def write(spark: SparkSession, manifestPath: String,
            entries: Seq[(String, Seq[ColumnProfile])]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new Path(manifestPath)
    val fs = dest.getFileSystem(conf)
    val target = fs.makeQualified(dest)
    val stage = new Path(target.getParent, s".${target.getName}-${UUID.randomUUID()}")
    val sqlConf = SQLConf.get
    val schema = new SparkToParquetSchemaConverter(sqlConf).convert(manifestSchema)
    val codec = CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName)
    val part = new Path(stage,
      s"part-00000-${UUID.randomUUID()}-c000${codec.getExtension}.parquet")
    try {
      val w = ExampleParquetWriter.builder(part).withConf(conf).withType(schema)
        .withCompressionCodec(codec)
        .withExtraMetaData(Map(
          "org.apache.spark.version" -> SPARK_VERSION_SHORT,
          "org.apache.spark.sql.parquet.row.metadata" -> manifestSchema.json).asJava)
        .build()
      try {
        val rows = new SimpleGroupFactory(schema)
        for ((file, ps) <- entries; (p, i) <- ps.zipWithIndex) {
          val g = rows.newGroup()
          g.add("file", file)
          g.add("ordinal", i)
          g.add("field", p.field)
          g.add("source_type", p.sourceType.sql)
          g.add("identifier", p.identifier)
          g.add("non_null", p.nonNull)
          g.add("bool_domain", p.boolDomain)
          g.add("numeric_count", p.numericCount)
          g.add("int_count", p.intCount)
          g.add("integral", p.integral)
          p.minD.foreach(g.add("min_d", _)) // None: no value, null
          p.maxD.foreach(g.add("max_d", _))
          g.add("ts_count", p.tsCount)
          g.add("all_midnight", p.allMidnight)
          p.maxLen.foreach(g.add("max_len", _))
          g.add("complex", p.complex)
          g.add("big_obj_count", p.bigObjCount)
          w.write(g)
        }
      } finally w.close()
      fs.create(new Path(stage, "_SUCCESS")).close()
      fs.delete(target, true)
      if (!fs.rename(stage, target))
        throw new IOException(s"could not move $stage to $target")
    } finally fs.delete(stage, true)
  }

  /** Load a manifest back into per-file profile entries, reading its
    * visible data files on the driver under the session's Hadoop conf
    * (no Spark job); a manifest of several part files, as Spark's writer
    * leaves, reads the same. File order is name-sorted (deterministic
    * regardless of write layout); per-file column order is the stored
    * ordinal. */
  def read(spark: SparkSession, manifestPath: String)
      : Seq[(String, Seq[ColumnProfile])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(manifestPath)
    val files = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter(s => s.isFile && !ParquetFooters.hidden(s.getPath))
    val rows = files.flatMap { f =>
      val reader = new ParquetReader.Builder[Group](
          HadoopInputFile.fromStatus(f, conf)) {
        override protected def getReadSupport = new GroupReadSupport
      }.build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(g => (g.getString("file", 0), g.getInteger("ordinal", 0), g))
        .toVector
      finally reader.close()
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, rs) =>
      f -> rs.sortBy(_._2).map { case (_, _, g) =>
        def opt[A](n: String)(get: (String, Int) => A) =
          if (g.getFieldRepetitionCount(n) == 0) None else Some(get(n, 0))
        ColumnProfile(
          field = g.getString("field", 0),
          sourceType = DataType.fromDDL(g.getString("source_type", 0)),
          identifier = g.getBoolean("identifier", 0),
          nonNull = g.getLong("non_null", 0),
          boolDomain = g.getBoolean("bool_domain", 0),
          numericCount = g.getLong("numeric_count", 0),
          intCount = g.getLong("int_count", 0),
          integral = g.getBoolean("integral", 0),
          minD = opt("min_d")(g.getDouble),
          maxD = opt("max_d")(g.getDouble),
          tsCount = g.getLong("ts_count", 0),
          allMidnight = g.getBoolean("all_midnight", 0),
          maxLen = opt("max_len")(g.getLong),
          complex = g.getBoolean("complex", 0),
          bigObjCount = g.getLong("big_obj_count", 0))
      }
    }
  }

  /** Incremental drift: profile ONLY the files under `dir` that are
    * not in `manifest` (footers read once, one keyed scan per schema:
    * [[ParquetFooters.profileChildren]]),
    * merge them with the stored profiles, and report each NEWCOMER
    * against the merged corpus schema with the usual vocabulary.
    *
    * Returns (newEntries, report): callers persist
    * `manifest ++ newEntries` via [[write]] when they accept the
    * generation. Zero new files → empty report, no Spark job. */
  def driftSince(spark: SparkSession,
                 manifest: Seq[(String, Seq[ColumnProfile])],
                 dir: String, parallelism: Int = 8)
      : (Seq[(String, Seq[ColumnProfile])], DataFrame) = {
    val seen = manifest.map(_._1).toSet
    val children = ParquetFooters.children(spark, dir)
      .filterNot(p => seen.contains(p.getName))
    val newEntries = ParquetFooters.profileChildren(spark, children, parallelism)
    val corpus = DirectoryDrift.mergeProfiles(manifest ++ newEntries)
    (newEntries, DirectoryDrift.reportAgainst(spark, corpus, newEntries))
  }
}
