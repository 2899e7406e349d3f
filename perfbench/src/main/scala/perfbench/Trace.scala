package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A harness-side span: one operation, or one call into a library layer
  * made on behalf of that operation. Times are `System.nanoTime`. */
final case class Span(op: String, layer: String, start: Long, end: Long)

/** One Spark job as the listener saw it, tagged with the operation and
  * layer that were current (as local properties) on the thread that
  * submitted it. Times are epoch milliseconds from the listener bus. */
final class JobRec(val id: Int, val op: String, val layer: String,
                   val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Reader jobs resolve a table: schema inference / footer merge. A
    * parquet write has the same call site; the manifest write is the
    * only write the workloads time. */
  def isReader: Boolean = layer != "manifest.write" &&
    Seq("parquet at ", "csv at ", "json at ").exists(callSite.startsWith)
}

/** Calls into the library are bracketed by [[Trace.layer]]; operations by
  * [[Trace.op]]. Both set Spark local properties on every run (traced or
  * not, so both runs take the same code path); spans are recorded only
  * while a [[Tracer]] is installed. Submitter threads that the library
  * creates inside a call inherit the properties, so their jobs are
  * attributed to the call that made them. */
object Trace {
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"
  private val current = new AtomicReference[Option[Tracer]](None)

  def install(t: Tracer): Unit = current.set(Some(t))
  def uninstall(): Unit = current.set(None)

  private def timed[T](sc: SparkContext, key: String, value: String,
                       op: String, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.get.foreach(_.spans.add(Span(op, layer, t0, t1)))
      sc.setLocalProperty(key, prev)
    }
  }

  def op[T](spark: SparkSession, id: String)(body: => T): T =
    timed(spark.sparkContext, OpKey, id, id, "op")(body)

  def layer[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    timed(sc, LayerKey, name, Option(sc.getLocalProperty(OpKey)).getOrElse(""),
      name)(body)
  }
}

/** Listener-side recorder for one traced segment. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L
  var blocksWritten = 0L
  var stageRetries = 0L
  var planNs = 0L
  /** Epoch-ms ↔ nanoTime anchor, to place listener times on span time. */
  val anchorMs: Long = System.currentTimeMillis()
  val anchorNs: Long = System.nanoTime()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
  var filesListed = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    Trace.install(this)
  }

  /** Stop recording and wait until the listener bus has delivered every
    * event of the segment. */
  def stop(): Unit = {
    Trace.uninstall()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    filesListed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) =
      Option(if (p == null) null else p.getProperty(k)).getOrElse("")
    val site = prop("callSite.short") match {
      case "" => e.stageInfos.headOption.map(_.name).getOrElse("")
      case s  => s
    }
    val j = new JobRec(e.jobId, prop(Trace.OpKey), prop(Trace.LayerKey),
      site, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      if (info.attemptNumber() > 0) stageRetries += 1
      stageToJob.get(info.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.schedWaitMs += math.max(0L,
          e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime)
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize
                 else 0L
      val before = blockBytes.getOrElse(key, 0L)
      if (size > 0L && before == 0L) blocksWritten += 1
      if (size > 0L) blockBytes(key) = size else blockBytes.remove(key)
      storageNow += size - before
      storagePeak = math.max(storagePeak, storageNow)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def spanList: Seq[Span] = spans.asScala.toSeq
  def jobList: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Interval arithmetic for self times. */
object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
