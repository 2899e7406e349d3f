package graft

import GraftSession.noopSeconds

/** Benchmark main — one JSON line with per-query wall seconds.
  *
  * Each query materializes fully through the `noop` sink
  * ([[GraftSession.noopSeconds]]). Each query runs 3× and reports the
  * MEDIAN: this box's run-to-run spread is ±15–20% and a single GC
  * pause under single-shot timing fabricated a phantom 16× regression
  * in round 5 (q66 6.98 s recorded vs 0.68 s on rerun). Reps are
  * INTERLEAVED round-robin (rep 1 of every query, then rep 2, then
  * rep 3) rather than back-to-back per query: a sustained
  * slow window (GC storm / external box load spanning ~10 s) that lands
  * on one query's three consecutive reps poisons all of them and the
  * median absorbs nothing — round 6 recorded 4–6× phantom regressions
  * on three unchanged queries exactly this way. Spread across the whole
  * list, the same window touches at most one rep of any query and the
  * median discards it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // parsed before the sweep: a malformed value must not throw after
    // the sweep has run and lose its results
    val readjN = readjCount(sys.env.get("SPARK_GRAFT_BENCH_READJ"))
    // Dev-only subset filter (comma-separated query names) for
    // isolated A/B timings — the committed BENCH_r{N} figures always
    // come from the driver's full sweep (the ScaleBench convention)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queryList = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Untimed warmup at the smallest SF: pays JVM/classloading/codegen
    // cost once so the timed loop measures steady-state execution (the
    // first timed query otherwise absorbs several seconds of warmup).
    queryList.foreach { case (name, fn) =>
      noopSeconds(name)(fn(spark, "/root/testdata/sf0.001"))
    }
    val timesByQuery = queryList.map { case (name, _) =>
      name -> scala.collection.mutable.ArrayBuffer.empty[Double]
    }.toMap
    // Mid-sweep canary probes: the post-sweep canary (below) brackets
    // only SWEEP-WIDE contamination — a transient load window that
    // inflates a few mid-sweep queries' reps and is gone by the end
    // still reads as a per-query regression (the round-8 q167/q168
    // ambiguity). One cheap probe at the midpoint of every rep gives
    // the JSON a time-distributed load record to adjudicate from.
    val midCanaryName = "q01_profile_lineitem"
    val midProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val midIdx = queryList.size / 2
    for (rep <- 1 to reps; ((name, fn), idx) <- queryList.zipWithIndex) {
      // nudge the cleaner at each sweep boundary so rep N+1 starts
      // from the same storage state rep 1 did
      if (idx == 0 && rep > 1) System.gc()
      if (idx == midIdx && SparkEntry.queries.contains(midCanaryName))
        midProbes += noopSeconds(midCanaryName)(
          SparkEntry.queries(midCanaryName)(spark, sfDir))
      timesByQuery(name) += noopSeconds(name)(fn(spark, sfDir))
    }
    val results = queryList.map { case (name, _) =>
      val times = timesByQuery(name).toSeq
      // ANY failed rep marks the query failed: reporting the median of
      // the surviving reps would hide an intermittent OOM behind a
      // healthy-looking figure — exactly the flakiness this report
      // exists to expose
      (name, if (times.exists(_ < 0)) -1.0
             else times.sorted.apply(times.size / 2))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    // Environment canary: immediately after the sweep, re-time three
    // cheap queries once each. A rerun that disagrees with its sweep
    // median by >2× means the BOX (external load / GC storm) was
    // contaminated during the sweep — the flag tells the reader to
    // distrust apparent regressions in THIS file rather than
    // re-adjudicate phantom ones (the round-7 q88/q89/q170 lesson).
    val canaryNames = Seq("q01_profile_lineitem", "q88_scd2_collapse",
      "q89_interval_overlap").filter(SparkEntry.queries.contains)
    val canary = canaryNames.map { n =>
      val rerun = noopSeconds(n)(SparkEntry.queries(n)(spark, sfDir))
      val sweep = results.toMap.getOrElse(n, -1.0)
      (n, sweep, rerun)
    }
    // Contamination = any post-sweep rerun disagreeing >2× with its
    // sweep median, OR any mid-sweep probe disagreeing >2× with the
    // canary query's own sweep median — the latter catches a transient
    // load window confined to the middle of a rep, which the
    // post-sweep reruns alone cannot see.
    val midRef = results.toMap.getOrElse(midCanaryName, -1.0)
    val midContaminated = midProbes.exists(p => p > 0 && midRef > 0 &&
      (p / midRef > 2.0 || midRef / p > 2.0))
    val canaryContaminated = midContaminated ||
      canary.exists { case (_, sweep, rerun) =>
        sweep > 0 && rerun > 0 &&
          (sweep / rerun > 2.0 || rerun / sweep > 2.0)
      }
    // Self-adjudication (the round-11 verdict's item 3): a tripped
    // canary means the box was loaded DURING the sweep, and the
    // queries most damaged by a load window are the expensive ones
    // (they overlap more wall-clock). When the canary trips, re-run
    // the N slowest sweep medians back-to-back (median of 3) right
    // here, after the load signal, and report BOTH figures — the
    // sweep median stays the headline (methodology unchanged across
    // rounds); `readjudicated` gives the reader the isolated figure
    // the builder previously had to reconstruct by hand
    // (OPTIMIZATION_r11.md's protocol, mechanized).
    val readjudicated: Seq[(String, Double, Double)] =
      if (!canaryContaminated || readjN <= 0) Seq.empty
      else results.filter(_._2 >= 0).sortBy(-_._2).take(readjN).map {
        case (name, sweepMedian) =>
          val ts = (1 to 3).map { _ =>
            noopSeconds(name)(SparkEntry.queries(name)(spark, sfDir))
          }
          val med = if (ts.exists(_ < 0)) -1.0
                    else ts.sorted.apply(ts.size / 2)
          (name, sweepMedian, med)
      }
    val canaryJson = canary.map { case (n, sweep, rerun) =>
      f""""$n":{"sweep":$sweep%.3f,"rerun":$rerun%.3f}"""
    }.mkString("{", ",", "}")
    val canaryMidJson = midProbes.map(p => f"$p%.3f").mkString("[", ",", "]")
    def r3(v: Double): String = f"$v%.3f"
    val readjJson = readjudicated.map { case (n, s, iso) =>
      s""""$n":{"sweep":${r3(s)},"isolated":${r3(iso)}}"""
    }.mkString("{", ",", "}")
    val okResults = results.filter(_._2 >= 0)
    val p50 = { val s = okResults.map(_._2).sorted
      if (s.isEmpty) -1.0 else s(s.size / 2) }
    // One stdout line with the COMPLETE per-query map. Earlier rounds
    // truncated this to the 25 slowest on a (stale) assumption that
    // the harness window kept only ~2 KB of stdout — and the driver's
    // parser returned `parsed: null` on the truncated line two rounds
    // running (PERF_r10/r11 both empty). The round-11 verdict's item 2
    // explicitly asks for the full map here (~12 KB at 323 queries);
    // the durable copies below stay for history.
    val json =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","parallelism":${spark.sparkContext.defaultParallelism},"n_queries":${results.size},"queries_omitted":0,"failed":[${failed.mkString(",")}],"mean_sec":${r3(if (okResults.nonEmpty) total / okResults.size else -1.0)},"p50_sec":${r3(p50)},"queries":$qs,"canary":$canaryJson,"canary_mid":$canaryMidJson,"canary_contaminated":$canaryContaminated,"readjudicated":$readjJson,"full":"BENCH_FULL.json"}"""
    println(json)
    // BENCH_FULL.json used to be clobbered by whichever same-session
    // run happened last (the r11 8-core sweep overwrote the 32-core
    // map); the cpus-suffixed copy keeps every core count's map.
    for (path <- Seq("target/bench.json", "BENCH_FULL.json",
                     s"BENCH_FULL_c$cpus.json")) {
      try {
        val out = java.nio.file.Paths.get(path)
        if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out,
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: $e")
      }
    }
    spark.stop()
  }

  /** How many of the slowest queries to re-time when the canary trips:
    * the `SPARK_GRAFT_BENCH_READJ` value, or 10 when it is unset or not
    * an integer (a malformed value is reported on stderr). */
  private[graft] def readjCount(raw: Option[String]): Int =
    raw.fold(10) { v =>
      v.trim.toIntOption.getOrElse {
        System.err.println(
          s"[bench] SPARK_GRAFT_BENCH_READJ=$v is not an integer; using 10")
        10
      }
    }
}
