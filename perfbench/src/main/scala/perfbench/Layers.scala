package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Per-layer metrics and self times from one traced segment. Counts and
  * times are per pass (the segment's total over its pass count); ratios,
  * rates and the storage peak are over the whole segment. Code
  * generation is counted over the set-up (`codegen` = compile
  * nanoseconds, compilations): after warm-up every generated class
  * comes from the cache. */
object Layers {
  private val MB = 1048576.0

  def metrics(t: Tracer, passes: Int, wallS: Double, cpus: Int,
              codegen: (Long, Long))
      : Seq[(String, Double, String)] = {
    val spans = t.spanList
    val jobs = t.jobList
    val p = math.max(1, passes).toDouble
    def spanS(layer: String) =
      spans.filter(_.layer == layer).map(s => s.end - s.start).sum / 1e9
    def in(layer: String) = jobs.filter(_.layer == layer)
    def dur(j: JobRec) = if (j.endMs < 0) 0L else (j.endMs - j.startMs) * 1000000L
    val interval = (j: JobRec) => (t.msToNs(j.startMs), t.msToNs(math.max(j.endMs, j.startMs)))
    val readers = jobs.filter(_.isReader)
    val sourcesSelf = spans.filter(_.layer == "sources").map { s =>
      (s.end - s.start) - Intervals.covered(
        jobs.filter(_.op == s.op).map(interval), s.start, s.end)
    }.sum
    val inference = in("inference")
    val inferenceS = spanS("inference")
    val all = jobs
    val allSpan = if (spans.isEmpty) (0L, 0L)
                  else (spans.map(_.start).min, spans.map(_.end).max)
    val execNs = Intervals.covered(all.map(interval), allSpan._1, allSpan._2)
    val runS = all.map(_.runMs).sum / 1000.0
    Seq(
      ("sources.resolve_s", (readers.map(dur).sum + sourcesSelf) / 1e9 / p, "s"),
      ("sources.resolve_jobs", readers.size / p, "count"),
      ("sources.files_listed", t.filesListed / p, "count"),
      ("inference.s", inferenceS / p, "s"),
      ("inference.jobs", inference.size / p, "count"),
      ("inference.rows_per_s",
        if (inferenceS > 0) inference.map(_.inputRecords).sum / inferenceS else 0.0,
        "1/s"),
      ("inference.task_cpu_s", inference.map(_.cpuNs).sum / 1e9 / p, "s"),
      ("manifest.write_s", spanS("manifest.write") / p, "s"),
      ("manifest.read_s", spanS("manifest.read") / p, "s"),
      ("manifest.bytes_written",
        in("manifest.write").map(_.outputBytes).sum / p, "bytes"),
      ("diff.s", spanS("diff") / p, "s"),
      ("diff.jobs", in("diff").size / p, "count"),
      ("ddl.s", spanS("ddl") / p, "s"),
      ("build.s", spanS("build") / p, "s"),
      ("build.jobs", in("build").size / p, "count"),
      ("storage.peak_mb", t.storagePeak / MB, "MB"),
      ("storage.blocks_written", t.blocksWritten / p, "count"),
      ("plan.s", t.planNs / 1e9 / p, "s"),
      ("codegen.compile_s", codegen._1 / 1e9, "s"),
      ("codegen.classes", codegen._2.toDouble, "count"),
      ("exec.s", execNs / 1e9 / p, "s"),
      ("exec.jobs", all.size / p, "count"),
      ("exec.stages", all.map(_.stages).sum / p, "count"),
      ("exec.tasks", all.map(_.tasks).sum / p, "count"),
      ("exec.task_run_s", runS / p, "s"),
      ("exec.task_cpu_s", all.map(_.cpuNs).sum / 1e9 / p, "s"),
      ("exec.gc_s", all.map(_.gcMs).sum / 1000.0 / p, "s"),
      ("exec.sched_wait_s", all.map(_.schedWaitMs).sum / 1000.0 / p, "s"),
      ("exec.core_util", if (wallS > 0) runS / (wallS * cpus) else 0.0, "ratio"),
      ("exec.input_mb", all.map(_.inputBytes).sum / MB / p, "MB"),
      ("exec.shuffle_write_mb", all.map(_.shuffleWriteBytes).sum / MB / p, "MB"),
      ("exec.shuffle_read_mb", all.map(_.shuffleReadBytes).sum / MB / p, "MB"),
      ("exec.spill_mb", all.map(_.spillBytes).sum / MB / p, "MB"),
      ("exec.failed_tasks", all.map(_.failedTasks).sum / p, "count"),
      ("exec.stage_retries", t.stageRetries / p, "count"))
  }

  /** Self times of one operation: the op's own time outside library
    * calls, each layer's time outside its Spark jobs, and the time its
    * jobs cover. They sum to the op's span. */
  final case class OpSelf(op: String, spanNs: Long, parts: Seq[(String, Long)]) {
    def total: Long = parts.map(_._2).sum
  }

  def selfTimes(t: Tracer): Seq[OpSelf] = {
    val spans = t.spanList
    val jobs = t.jobList
    spans.filter(_.layer == "op").sortBy(_.start).map { o =>
      val children = spans.filter(s => s.layer != "op" && s.op == o.op &&
        s.start >= o.start && s.end <= o.end)
      val parts = children.groupBy(_.layer).toSeq.sortBy(_._1).flatMap {
        case (layer, cs) =>
          val jobIv = jobs.filter(j => j.op == o.op && j.layer == layer)
            .map(j => (t.msToNs(j.startMs), t.msToNs(math.max(j.endMs, j.startMs))))
          val jobNs = cs.map(c => Intervals.covered(jobIv, c.start, c.end)).sum
          val callNs = cs.map(c => c.end - c.start).sum
          Seq(layer -> (callNs - jobNs), s"$layer.jobs" -> jobNs)
      }
      val own = (o.end - o.start) -
        Intervals.covered(children.map(c => (c.start, c.end)), o.start, o.end)
      OpSelf(o.op, o.end - o.start, ("op" -> own) +: parts)
    }
  }

  /** Mean self times per operation name, one line each. */
  def printSelfTimes(t: Tracer): Unit =
    selfTimes(t).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      val keys = xs.flatMap(_.parts.map(_._1)).distinct
      val parts = keys.map { k =>
        val ms = xs.map(_.parts.toMap.getOrElse(k, 0L)).sum / xs.size / 1e6
        f"$k=$ms%.1f"
      }
      val span = xs.map(_.spanNs).sum / xs.size / 1e6
      println(f"[self-ms] $op span=$span%.1f ${parts.mkString(" ")}")
    }

  /** All spans and jobs of the segment, written once at the end. */
  def writeTrace(t: Tracer, out: File): Unit = {
    val t0 = t.anchorNs
    val spans = t.spanList.map(s =>
      s"""{"op": ${Json.str(s.op)}, "layer": ${Json.str(s.layer)}, "start_ms": ${Json.num((s.start - t0) / 1e6)}, "dur_ms": ${Json.num((s.end - s.start) / 1e6)}}""")
    val jobs = t.jobList.map(j =>
      s"""{"job": ${j.id}, "op": ${Json.str(j.op)}, "layer": ${Json.str(j.layer)}, "call_site": ${Json.str(j.callSite)}, "start_ms": ${j.startMs - t.anchorMs}, "dur_ms": ${if (j.endMs < 0) -1 else j.endMs - j.startMs}, "stages": ${j.stages}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}}""")
    val body = "{\"spans\": [\n" + spans.mkString(",\n") + "\n], \"jobs\": [\n" +
      jobs.mkString(",\n") + "\n]}\n"
    Files.write(out.toPath, body.getBytes(StandardCharsets.UTF_8))
  }
}
