package perfbench

import java.io.File
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Named `SparkEntry.queries` entries over a fixed table directory. One
  * operation builds a query's DataFrame (table resolution plus any eager
  * work the operator does) and runs it into the noop sink. The seed
  * shuffles the order of every pass. Results are checked in the untimed
  * pass: each query is written as parquet under `outDir`, and the caller
  * compares those files with the stored DuckDB oracle results. */
final class QueryWorkload(val name: String, seed: Long, queries: Seq[String],
                          dataDir: File, outDir: File) extends Workload {

  def prepare(spark: SparkSession, dir: File): Seq[(String, Any)] = {
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val tables = Option(dataDir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    require(tables.nonEmpty, s"no tables under $dataDir")
    Seq("queries" -> queries.size, "tables" -> tables.length,
      "bytes" -> tables.map(Util.sizeOf).sum)
  }

  private def build(spark: SparkSession, q: String) =
    Trace.layer(spark, "build")(SparkEntry.queries(q)(spark, dataDir.getAbsolutePath))

  def checkPass(spark: SparkSession): (Int, Seq[(String, String)]) = {
    Util.deleteRecursively(outDir)
    val fails = queries.flatMap { q =>
      try {
        build(spark, q).write.mode("overwrite")
          .parquet(new File(outDir, q).getAbsolutePath)
        None
      } catch { case e: Throwable => Some(q -> Util.cause(e)) }
    }
    (queries.size, fails)
  }

  def pass(spark: SparkSession, n: Int): Seq[Op] =
    new Random(seed * 1000003L + n).shuffle(queries).map { q =>
      Op(q, () => {
        val df = build(spark, q)
        Trace.layer(spark, "exec")(
          df.write.format("noop").mode("overwrite").save())
      })
    }
}
