package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Runs `body` and counts the Spark jobs it launched. Job-group
    * scoped: suites share one JVM/session under sbt's parallel
    * execution, so a global counter would absorb OTHER suites'
    * concurrent jobs. The group id is thread-local and inherited by
    * pools created inside `body`. */
  def countJobs[T](body: => T): (T, Int) = {
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "job-count probe")
    try {
      val r = body
      // listener bus is async — drain before reading the counter
      Thread.sleep(300)
      (r, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** DataFrame from (value) rows of a single string column. */
  def strCol(name: String, values: Seq[Option[String]]): DataFrame = {
    import spark.implicits._
    values.toDF(name)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are NTZ-annotated micros
      // (isAdjustedToUTC=false); read them as session-tz (UTC)
      // TIMESTAMP so unix_micros & friends resolve, matching DuckDB's
      // naive-timestamp comparison semantics.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-wh-${System.getProperty("user.name")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
