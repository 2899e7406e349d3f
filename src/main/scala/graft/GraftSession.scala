package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** How every graft main and test runs Spark: one session conf set, one
  * core count, one timed run into the `noop` sink and one job counter.
  * A plan dump or job count taken on a different session measures a
  * different program, so nothing builds its own.
  *
  * perfbench's `Main.session` is benchmark code and builds its own
  * session; its non-deployment confs equal [[confs]] and must stay so.
  */
object GraftSession {

  /** Every conf a graft session carries. Deployment settings (app name,
    * warehouse dir) are the caller's. */
  private[graft] def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    // one shuffle partition per core: the inputs are small enough that
    // the 200 default only adds empty tasks
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet stores TIMESTAMP(NANOS): read it as long, converted
    // to micros in SparkEntry.t (DuckDB-equivalent truncation)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // testdata timestamps are NTZ-annotated micros (isAdjustedToUTC =
    // false); read them as session-tz (UTC) TIMESTAMP so unix_micros &
    // friends resolve, matching DuckDB's naive-timestamp comparisons
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // localCheckpoint blocks (the iterative-graph queries pin one frame
    // per superstep) are reclaimed by ContextCleaner only after a DRIVER
    // GC collects the RDD handle, and a big idle heap may never GC
    // inside one run (default interval 30 min): dead checkpoint frames
    // pile up in executor storage and drag every later query (q55 at
    // sf1 ran 4.5x slower purely from running late in a sweep: 92.0 s
    // -> 20.7 s A/B on identical code)
    "spark.cleaner.periodicGC.interval" -> "1min",
    // a many-query sweep generates 700+ codegen classes against a
    // 100-entry default cache, so every rep re-compiles nearly every
    // stage (janino 50-200 ms a stage; the Bench total went 208 ->
    // 136 s from this line alone). Static conf: it must be set before
    // the first session.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** A builder carrying [[confs]] for `local[cpus]`. */
  def builder(cpus: Int): SparkSession.Builder =
    confs(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else all the JVM sees. */
  def cpus: Int = cpusOf(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive integer parses; unset falls back to
    * `availableProcessors`, and so does a malformed value, with a stderr
    * note. */
  private[graft] def cpusOf(raw: Option[String]): Int = {
    val all = Runtime.getRuntime.availableProcessors
    raw.fold(all) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(
          s"[graft] SPARK_GRAFT_CPUS=$v is not a positive integer; using $all")
        all
      }
    }
  }

  /** Builds `df` and runs it into the `noop` sink, which materializes
    * every row (`count()` would let Catalyst prune most of the work).
    * Returns the seconds taken, building included, or -1.0 with one
    * stderr line naming `name` and the cause: a failed run must never
    * report its (tiny) elapsed time as a valid figure. */
  def noopSeconds(name: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[graft] $name failed: ${e.getMessage}")
      -1.0
    }
  }

  /** Jobs launched and stages they planned (skipped ones included). */
  final case class JobCount(jobs: Int, stages: Int)

  /** Runs `body` and counts the Spark jobs it launched. Scoped to a
    * fresh job group, because suites share one session and may run
    * concurrently; the group is thread-local and inherited by threads
    * `body` starts. The listener bus is drained before the counts are
    * read, so they are exact. */
  def countJobs[T](spark: SparkSession)(body: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
        }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try {
      val r = body
      GraftBus.drain(sc)
      (r, JobCount(jobs.get, stages.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
