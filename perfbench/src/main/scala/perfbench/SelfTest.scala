package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Tests of the harness itself, on tiny inputs:
  *   - the correctness pass of every workload passes;
  *   - job, stage and task counts per operation, and files listed per
  *     pass, repeat exactly across two passes;
  *   - every job of a traced pass is attributed: it carries an operation
  *     and a layer, its interval lies inside a call of that layer made
  *     for that operation (within [[SlackMs]]), and a layer's job time
  *     is no more than its call time. Self times are built from these
  *     intervals, so they are only as good as this attribution;
  *   - a deliberately wrong expected result is counted as a failure.
  * Each check prints one line; a failed one starts `[selftest] FAIL`. */
object SelfTest {
  /** Listener times are whole epoch milliseconds placed on the span
    * clock through one anchor, so job bounds may be off by a few ms. */
  val SlackMs = 20L

  def run(a: Main.Args, cpus: Int): Unit = {
    a.work.mkdirs()
    val spark = Main.session(cpus, a.work)
    def expect(ok: Boolean, what: String): Unit =
      println((if (ok) "[selftest] ok   " else "[selftest] FAIL ") + what)
    val tiny = Seq("csv_landing", "drift_landing").map(w =>
      Main.workload(a.copy(workload = w), cpus, tiny = true)) ++
      (if (a.queries.isEmpty) Nil
       else Seq(Main.workload(a.copy(workload = "queries"), cpus, tiny = true)))
    for (wl <- tiny) {
      wl.prepare(spark, new File(a.work, s"inputs_${wl.name}"))
      val (n, fails) = wl.checkPass(spark)
      expect(fails.isEmpty, s"${wl.name}: correctness pass of $n ops " +
        fails.mkString("; "))
      val counts = (0 until 2).map(p => tracedPass(spark, wl, p, expect))
      expect(counts.distinct.size == 1,
        s"${wl.name}: (jobs, stages, tasks) per op and files listed per pass " +
          s"repeat: ${counts.mkString(" vs ")}")
      val corrupted = wl match {
        case c: CsvLanding => c.corruptTruth(); true
        case d: DriftLanding => d.corruptTruth(); true
        case _ => false // query results are checked by run.py
      }
      if (corrupted) {
        val (_, f) = wl.checkPass(spark)
        expect(f.nonEmpty, s"${wl.name}: a wrong expected result fails: " +
          f.headOption.map(_._2).getOrElse("not detected"))
      }
    }
    spark.stop()
  }

  private def tracedPass(spark: SparkSession, wl: Workload, p: Int,
                         expect: (Boolean, String) => Unit)
      : (Seq[(String, Int, Int, Int)], Long) = {
    val tr = new Tracer(spark)
    tr.start()
    for (op <- wl.pass(spark, p)) {
      op.prep()
      try Trace.op(spark, op.id)(op.run())
      catch { case e: Throwable => expect(false, s"${op.id}: ${Util.cause(e)}") }
    }
    wl.afterPass(p)
    tr.stop()
    val jobs = tr.jobList
    val problems = attribution(tr)
    expect(problems.isEmpty, s"${wl.name} pass $p: all ${jobs.size} jobs " +
      s"attributed ${problems.take(3).mkString("; ")}")
    val perOp = jobs.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, js) =>
      (op, js.size, js.map(_.stages).sum, js.map(_.tasks).sum)
    }
    (perOp, tr.filesListed)
  }

  /** Every way the jobs of a traced segment are not attributed to the
    * calls that made them; empty when all are. */
  def attribution(tr: Tracer): Seq[String] = {
    val slack = SlackMs * 1000000L
    val calls = tr.spanList.filter(_.layer != "op")
      .groupBy(s => (s.op, s.layer))
    val jobs = tr.jobList
    def iv(j: JobRec) = (tr.msToNs(j.startMs), tr.msToNs(j.endMs))
    val unattributed = jobs.collect {
      case j if j.op.isEmpty || j.layer.isEmpty =>
        s"job ${j.id} (${j.callSite}) has op '${j.op}' layer '${j.layer}'"
      case j if j.endMs < 0 => s"job ${j.id} (${j.callSite}) never ended"
    }
    val outside = jobs.filter(j => j.op.nonEmpty && j.layer.nonEmpty &&
        j.endMs >= 0).flatMap { j =>
      val (a, b) = iv(j)
      val inside = calls.getOrElse((j.op, j.layer), Nil)
        .exists(s => a >= s.start - slack && b <= s.end + slack)
      if (inside) None
      else Some(s"job ${j.id} (${j.callSite}) lies outside every " +
        s"${j.layer} call of ${j.op}")
    }
    val overfull = jobs.filter(_.endMs >= 0).groupBy(j => (j.op, j.layer))
      .toSeq.flatMap { case (key, js) =>
        val ss = calls.getOrElse(key, Nil)
        val jobNs = Intervals.covered(js.map(iv), Long.MinValue, Long.MaxValue)
        val callNs = ss.map(s => s.end - s.start).sum
        if (jobNs <= callNs + slack * ss.size.max(1)) None
        else Some(f"${key._2} of ${key._1}: jobs ${jobNs / 1e6}%.1f ms > " +
          f"calls ${callNs / 1e6}%.1f ms")
      }
    unattributed ++ outside ++ overfull
  }
}
