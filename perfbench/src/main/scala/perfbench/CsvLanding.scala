package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import scala.util.Random

import graft.RedshiftAutoSchema
import org.apache.spark.sql.SparkSession

import CsvLanding.Landed

/** Redshift type names and the aliases a deployed catalog may spell them
  * with, grouped so that two spellings in one group are the same type
  * class. This is the benchmark's own ground truth for diff reasons. */
object Aliases {
  val byType: Seq[(String, Seq[String])] = Seq(
    "bool" -> Seq("boolean", "bool"),
    "int4" -> Seq("integer", "int", "int4"),
    "int8" -> Seq("bigint", "int8"),
    "float8" -> Seq("double precision", "float8"),
    "date" -> Seq("date"),
    "timestamp" -> Seq("timestamp", "timestamp without time zone"),
    "varchar(256)" -> Seq("varchar(256)", "character varying(256)", "text"),
    "varchar(65535)" -> Seq("varchar(65535)", "character varying(65535)"))
  /** Spellings outside every group above (each its own class). */
  val foreign: Seq[String] = Seq("smallint", "real", "numeric", "timestamptz")
  private val groupOf: Map[String, Int] = byType.zipWithIndex.flatMap {
    case ((t, as), i) => (t +: as).map(_ -> i)
  }.toMap
  def sameClass(a: String, b: String): Boolean =
    groupOf.get(a).exists(i => groupOf.get(b).contains(i))
}

/** The README flow on one landed file: header, inference, CREATE TABLE,
  * the diff against a deployed table (materialized), ALTER statements.
  * Files are seeded pipe-delimited text covering every branch of the type
  * cascade, with pandas NA tokens. Like one feed landing day after day,
  * all files share one seeded column layout of `width` columns; values
  * and the deployed table differ per file. */
final class CsvLanding(seed: Long, files: Int, rows: Int, width: Int)
    extends Workload {
  def name = "csv_landing"

  private val kinds = Seq("notype", "bool", "int4", "int4_id", "int8",
    "float8", "date", "timestamp", "varchar(256)", "varchar(65535)")
  private val naTokens = Seq("", "NULL", "N/A", "nan", "NA", "None", "null")

  private var landed: Seq[Landed] = Seq.empty

  private def value(kind: String, r: Random, row: Int): String = {
    // a few NA tokens in every column; the first rows pin each kind's
    // deciding value so the type never depends on the draw
    if (kind == "notype") return naTokens(r.nextInt(naTokens.size))
    if (row > 1 && r.nextInt(20) == 0) return naTokens(r.nextInt(naTokens.size))
    kind match {
      case "bool" => Seq("true", "false", "t", "f", "True", "FALSE")(r.nextInt(6))
      case "int4" =>
        if (row == 0) "1234567" else (r.nextInt(2000000) - 1000000).toString
      case "int4_id" => r.nextInt(2).toString
      case "int8" =>
        if (row == 0) "3000000000123"
        else (r.nextLong() % 10000000000000L).toString
      case "float8" =>
        if (row == 0) "0.5"
        else "%.3f".formatLocal(java.util.Locale.ROOT, r.nextDouble() * 20000 - 10000)
      case "date" =>
        java.time.LocalDate.of(2000, 1, 1).plusDays(r.nextInt(9000)).toString
      case "timestamp" =>
        val base = java.time.LocalDateTime.of(2000, 1, 1, 0, 0, 0)
          .plusSeconds(r.nextInt(700000000).toLong)
        (if (row == 0) base.withHour(13) else base).toString.replace('T', ' ') match {
          case s if s.length == 16 => s + ":00"
          case s => s
        }
      case "varchar(256)" => word(r, 3 + r.nextInt(40))
      case "varchar(65535)" =>
        if (row == 0) word(r, 300) else word(r, 3 + r.nextInt(40))
    }
  }

  private def word(r: Random, n: Int): String = {
    val sb = new StringBuilder(n)
    sb += ('a' + r.nextInt(26)).toChar // never numeric, never a date
    while (sb.length < n)
      sb += (if (r.nextInt(7) == 0) ' ' else ('a' + r.nextInt(26)).toChar)
    sb.result()
  }

  def prepare(spark: SparkSession, dir: File): Seq[(String, Any)] = {
    dir.mkdirs()
    val r = new Random(seed)
    // every cascade branch, the rest of the layout drawn at random
    val layout = r.shuffle(kinds ++ Seq.fill(width - kinds.size)(
      kinds(r.nextInt(kinds.size))))
    val cols = layout.zipWithIndex.map { case (k, j) =>
      val t = if (k == "int4_id") "int4" else k
      val base = k.replaceAll("[^a-z0-9]", "")
      (if (k == "int4_id") s"acct_${j}_id" else s"${base}_$j", t)
    }
    var bytes = 0L
    landed = (0 until files).map { i =>
      val file = new File(dir, f"landing_$i%02d.csv")
      val w = new PrintWriter(file, StandardCharsets.UTF_8)
      try {
        w.println(cols.map(_._1).mkString("|"))
        for (row <- 0 until rows)
          w.println(layout.map(k => value(k, r, row)).mkString("|"))
      } finally w.close()
      bytes += file.length
      // deployed side: same class, another class, or absent; plus two
      // deployed columns the file no longer has
      val deployed = cols.filter(_._2 != "notype").flatMap { case (f, t) =>
        r.nextInt(20) match {
          case x if x < 8 =>
            val as = Aliases.byType.toMap.apply(t)
            Some(f -> as(r.nextInt(as.size)))
          case x if x < 13 =>
            val other = (Aliases.byType.filter(_._1 != t).flatMap(_._2) ++
              Aliases.foreign)
            Some(f -> other(r.nextInt(other.size)))
          case _ => None
        }
      } ++ Seq(s"legacy_a_$i" -> "int4", s"legacy_b_$i" -> "varchar(256)")
      Landed(file.getAbsolutePath, f"landing_$i%02d", cols, deployed)
    }
    Seq("files" -> files, "rows" -> rows, "columns" -> width,
      "bytes" -> bytes)
  }

  /** The README flow on one file, every output checked exactly. */
  private def land(spark: SparkSession, l: Landed): Unit = {
    import spark.implicits._
    val deployed = l.deployed.toDF("field", "deployed_type")
    val ras = new RedshiftAutoSchema(spark, "bench", l.table,
      file = Some(l.path), deployed = Some(deployed))
    val header = Trace.layer(spark, "sources")(ras.getColumnList)
    Check.equal("column list", header, l.cols.map(_._1))
    val meta = Trace.layer(spark, "inference")(ras.metadata)
    Check.equal("inferred types",
      meta.map(_.map(m => m.field -> m.proposedName)), Some(l.cols))
    val ddl = Trace.layer(spark, "ddl")(ras.generateTableDdl())
    Check.equal("CREATE TABLE", ddl, Some(l.ddl))
    val diff = Trace.layer(spark, "diff")(ras.evaluateTableDdlDiffs().collect())
    Check.equal("diff rows", diff.map { row =>
      (row.getString(0), Option(row.getString(1)), Option(row.getString(2)),
        row.getString(3))
    }.toSet, l.diffRows)
    val alters = Trace.layer(spark, "ddl")(ras.generateColumnDdl())
    Check.equal("ALTER statements", alters.map(_.split("\n").toSet), l.alters)
  }

  def checkPass(spark: SparkSession): (Int, Seq[(String, String)]) = {
    val fails = landed.flatMap { l =>
      try { land(spark, l); None }
      catch { case e: Throwable => Some(l.table -> Util.cause(e)) }
    }
    (landed.size, fails)
  }

  def pass(spark: SparkSession, n: Int): Seq[Op] =
    landed.map(l => Op(l.table, () => land(spark, l)))

  /** For the harness self-test: corrupt one file's expected types. */
  def corruptTruth(): Unit = {
    val (f, t) = landed.head.cols.head
    landed = landed.updated(0, landed.head.copy(cols = landed.head.cols
      .updated(0, f -> (if (t == "bool") "int8" else "bool"))))
  }
}

object CsvLanding {
  /** Ground truth of one landed file. */
  final case class Landed(path: String, table: String,
                          cols: Seq[(String, String)],
                          deployed: Seq[(String, String)]) {
    def ddl: String = {
      val lines = cols.zipWithIndex.map { case ((f, t), i) =>
        val dt = if (t == "notype") "varchar(256)" else t
        (if (i == 0) "" else ", ") + "\"" + f + "\" " + dt
      }
      s"CREATE TABLE bench.$table (\n${lines.mkString("\n")}\n)\nDISTSTYLE EVEN\n"
    }
    def diffRows: Set[(String, Option[String], Option[String], String)] = {
      val dep = deployed.toMap
      val fromFile = cols.filter(_._2 != "notype").flatMap { case (f, t) =>
        dep.get(f) match {
          case None => Some((f, Some(t), None, "MISSING"))
          case Some(d) if !Aliases.sameClass(t, d) =>
            Some((f, Some(t), Some(d), "TYPE MISMATCH"))
          case _ => None
        }
      }
      val names = cols.map(_._1).toSet
      val deprecated = deployed.filterNot(d => names.contains(d._1))
        .map { case (f, d) => (f, None, Some(d), "DEPRECATED") }
      (fromFile ++ deprecated).toSet
    }
    def alters: Option[Set[String]] = {
      val adds = diffRows.collect { case (f, Some(t), None, "MISSING") =>
        s"ALTER TABLE bench.$table ADD COLUMN $f $t;"
      }
      if (adds.isEmpty) None else Some(adds)
    }
  }
}
