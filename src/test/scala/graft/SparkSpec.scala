package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc: SparkSession = spark

  /** Testdata reader mirroring SparkEntry's: a nanos-as-long `ts`
    * (legacy TIMESTAMP(NANOS) testdata) is truncated to micros; the
    * current NTZ-micros testdata arrives as TIMESTAMP via the session's
    * inferTimestampNTZ=false and passes through. */
  def readEvents(path: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    val df = spark.read.parquet(path)
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Runs `body` and counts the Spark jobs it launched
    * ([[GraftSession.countJobs]]: job-group scoped, bus drained). */
  def countJobs[T](body: => T): (T, Int) = {
    val (r, c) = GraftSession.countJobs(spark)(body)
    (r, c.jobs)
  }

  /** DataFrame from (value) rows of a single string column. */
  def strCol(name: String, values: Seq[Option[String]]): DataFrame = {
    import spark.implicits._
    values.toDF(name)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-wh-${System.getProperty("user.name")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
