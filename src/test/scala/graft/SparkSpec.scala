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

  /** Runs `body` and returns, for the jobs it launched (job-group
    * scoped, bus drained like [[countJobs]]), each job's name — the
    * description it set itself (Spark's parallel file listing does), else
    * its result stage's call site: a job that resolves a table by
    * merging footers is `parquet at …` — and the input records their
    * tasks read. */
  def jobTrace[T](body: => T): (T, Seq[String], Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"graft-jobtrace-${java.util.UUID.randomUUID()}"
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
        {
          j.stageInfos.foreach(si => stages.add(si.stageId))
          val desc = j.properties.getProperty("spark.job.description")
          names.add(if (desc != null && desc != "job trace") desc
            else j.stageInfos.maxBy(_.stageId).name)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job trace")
    try {
      val r = body
      org.apache.spark.GraftBus.drain(sc)
      (r, names.toArray(Array.empty[String]).toSeq, records.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
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
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-wh-${System.getProperty("user.name")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
