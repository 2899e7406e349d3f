package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool over named declared queries, on the Bench session, so what
  * it reports is what the bench runs.
  *
  *   runMain graft.tools.Probe jobs <q1,q2,...>
  *     runs each query once into the noop sink and prints how many Spark
  *     jobs and stages it launched: the evidence a plan dump cannot give
  *     for operators that assemble verdicts driver-side (their corpus
  *     passes are internal actions, invisible in the returned frame's
  *     lazy plan).
  *   runMain graft.tools.Probe plan <tag> <suffix> <q1,q2,...>
  *     writes `.explain("formatted")` of each query to
  *     `plans/<tag>/<query>_<suffix>.txt`, e.g.
  *     `Probe plan r11 before q273_key_discovery`.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object Probe {
  private type Mode = (SparkSession, String, () => DataFrame) => Unit

  private val jobs: Mode = (spark, name, build) => {
    val (_, c) = GraftSession.countJobs(spark)(
      GraftSession.noopSeconds(name)(build()))
    println(s"[jobcount] $name jobs=${c.jobs} stages=${c.stages}")
  }

  private def plan(tag: String, suffix: String): Mode = (_, name, build) => {
    val dir = Files.createDirectories(Paths.get(s"plans/$tag"))
    val txt = build().queryExecution.explainString(FormattedMode)
    Files.write(dir.resolve(s"${name}_$suffix.txt"),
      txt.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
  }

  def main(args: Array[String]): Unit = {
    val mode: Mode = args match {
      case Array("jobs", _)              => jobs
      case Array("plan", tag, suffix, _) => plan(tag, suffix)
      case _ => throw new IllegalArgumentException(
        "usage: Probe jobs <q1,q2,...> | Probe plan <tag> <suffix> <q1,q2,...>")
    }
    val queries = args.last.split(",").map(_.trim).filter(_.nonEmpty).map { n =>
      n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query: $n"))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try queries.foreach { case (n, fn) => mode(spark, n, () => fn(spark, sfDir)) }
    finally spark.stop()
  }
}
