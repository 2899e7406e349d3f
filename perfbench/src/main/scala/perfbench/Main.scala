package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The measuring JVM. `run.py` builds it and starts it once per run:
  *
  *   Main --workload W --seed N --passes P --trace 0|1 --work DIR
  *        --data DIR --queries q1,q2,.. --out FILE
  *
  * It sets the workload up (session start, input generation, the untimed
  * correctness pass that also warms the JVM) and reports that time as
  * `setup_s`, then runs `--passes` whole passes as a closed loop with one
  * client. The pass count is fixed per run (run.py derives it from the
  * run length), so every run of a workload times the same operations.
  * With `--trace 1` it runs half the passes traced, between two untraced
  * halves, giving the per-layer metrics and the tracing overhead. The
  * result is one JSON object written to `--out`. */
object Main {

  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Args(workload: String, seed: Long, passes: Int,
                        trace: Boolean, work: File, data: File,
                        queries: Seq[String], out: File, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m.getOrElse("passes", "1").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("work")),
      new File(m.getOrElse("data", ".")),
      m.getOrElse("queries", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      new File(m("out")), m.getOrElse("selftest", "0") == "1")
  }

  def workload(a: Args, cpus: Int, tiny: Boolean): Workload = a.workload match {
    case "csv_landing" =>
      if (tiny) new CsvLanding(a.seed, 2, 100, 12)
      else new CsvLanding(a.seed, 2, 1500, 14)
    case "drift_landing" =>
      val par = math.min(cpus, 8)
      if (tiny) new DriftLanding(a.seed, 3, 2, 50, par)
      else new DriftLanding(a.seed, 4, 4, 400, par)
    case w =>
      new QueryWorkload(w, a.seed, a.queries, a.data, new File(a.work, "check"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The latency with 10 samples above it, when it is at least the
    * median; else None. */
  def tail(xs: Seq[Double]): Option[Double] =
    if (xs.size < 21) None else Some(xs.sorted.apply(xs.size - 11))

  /** Closed-loop measurement, one client, whole passes. */
  final class Loop(spark: SparkSession, wl: Workload) {
    val latencies = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[(String, String)]
    var attempted = 0
    var nextPass = 0

    def run(passes: Int): Seq[Double] = {
      val walls = ArrayBuffer.empty[Double]
      for (_ <- 0 until passes) {
        var wall = 0.0
        for (op <- wl.pass(spark, nextPass)) {
          op.prep()
          val s = System.nanoTime()
          try Trace.op(spark, op.id)(op.run())
          catch { case e: Throwable => failures += (op.id -> Util.cause(e)) }
          val dt = (System.nanoTime() - s) / 1e9
          latencies += dt
          wall += dt
          attempted += 1
        }
        wl.afterPass(nextPass)
        nextPass += 1
        walls += wall
      }
      walls.toSeq
    }
  }

  /** `--oracle-out FILE --queries q1,..`: the DuckDB oracle SQL of each
    * named query, as one JSON object. */
  def writeOracle(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val qs = m("--queries").split(",").toSeq
    val body = qs.map(q => s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}")
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(new File(m("--oracle-out")).toPath,
      body.getBytes(StandardCharsets.UTF_8))
  }

  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--oracle-out")) return writeOracle(argv)
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    if (a.selftest) return SelfTest.run(a, cpus)
    a.work.mkdirs()
    val wl = workload(a, cpus, tiny = false)

    def codegen = (CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val (compile0, classes0) = codegen
    val t0 = System.nanoTime()
    val spark = session(cpus, a.work)
    val inputs = wl.prepare(spark, new File(a.work, "inputs"))
    val (checkAttempted, checkFailures) = wl.checkPass(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupCodegen = (codegen._1 - compile0, codegen._2 - classes0)

    // ---- measurement ----
    val loop = new Loop(spark, wl)
    // traced, half the passes sit between two untraced halves, so the
    // warm-up trend does not read as tracing overhead
    val half = math.max(1, a.passes / 2)
    val plainWalls = loop.run(if (a.trace) half else a.passes)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        Seq(("setup_s", setupS, "s"),
          ("wall_s", median(plainWalls), "s"),
          ("op_p50_s", median(loop.latencies.toSeq), "s"),
          ("retained_heap_mb", retainedHeapMb(), "MB"))
      } else {
        val tracer = new Tracer(spark)
        tracer.start()
        val traced0 = System.nanoTime()
        val tracedWalls = loop.run(half)
        val tracedWall = (System.nanoTime() - traced0) / 1e9
        tracer.stop()
        val untraced = plainWalls ++ loop.run(half)
        val layers = Layers.metrics(tracer, tracedWalls.size, tracedWall, cpus,
          setupCodegen)
        val overhead = median(tracedWalls) / median(untraced)
        Layers.writeTrace(tracer, new File(a.work, "trace.json"))
        Layers.printSelfTimes(tracer)
        layers :+ (("trace.overhead", overhead, "ratio"))
      }

    val failures = checkFailures ++ loop.failures
    val attempted = checkAttempted + loop.attempted
    val env = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> cpus,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "passes" -> loop.nextPass,
      "ops_timed" -> loop.latencies.size,
      // the highest percentile with 10 samples beyond it; below the
      // median when the run timed fewer than 21 operations
      "op_tail_s" -> tail(loop.latencies.toSeq)) ++
      inputs.map { case (k, v) => s"input_$k" -> v }
    val json = new StringBuilder
    json ++= "{\"metrics\": {"
    json ++= metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    json ++= s"}, \"attempted\": $attempted, \"failed\": ${failures.size}, "
    json ++= "\"failures\": [" + failures.map { case (op, c) =>
      s"[${Json.str(op)}, ${Json.str(c)}]" }.mkString(", ") + "], "
    json ++= "\"env\": {" + env.map { case (k, v) =>
      s"${Json.str(k)}: ${Json.any(v)}" }.mkString(", ") + "}}"
    Files.write(a.out.toPath, json.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => o.map(any).getOrElse("null")
    case s => str(String.valueOf(s))
  }
}
