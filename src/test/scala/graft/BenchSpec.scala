package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("readjCount: integer values parse, unset and malformed fall back to 10") {
    assert(Bench.readjCount(None) == 10)
    assert(Bench.readjCount(Some("3")) == 3)
    assert(Bench.readjCount(Some(" 0 ")) == 0)
    assert(Bench.readjCount(Some("ten")) == 10)
    assert(Bench.readjCount(Some("")) == 10)
    assert(Bench.readjCount(Some("1.5")) == 10)
  }

  test("resultPaths: a subset run writes only target/bench.json") {
    assert(Bench.resultPaths(subset = true, cpus = 8) == Seq("target/bench.json"))
    val full = Bench.resultPaths(subset = false, cpus = 8)
    assert(full.toSet ==
      Set("target/bench.json", "BENCH_FULL.json", "BENCH_FULL_c8.json"))
    assert(full.last == "BENCH_FULL.json", "the full map the line points at")
  }

  test("canaries: only queries the run sweeps are re-timed") {
    val all = Seq("q01_profile_lineitem", "q88_scd2_collapse",
      "q89_interval_overlap")
    assert(Bench.canaries(SparkEntry.queries.keys.toSeq) == all)
    assert(Bench.canaries(Seq("q07_schema_diff", "q89_interval_overlap")) ==
      Seq("q89_interval_overlap"))
    assert(Bench.canaries(Seq("q07_schema_diff")).isEmpty)
  }

  // 323 names at the longest real query name's length (28 characters)
  private val names = (1 to 323).map(i => f"q$i%03d_" + "x" * 23)
  private def report(results: Seq[(String, Double)],
                     readj: Seq[(String, Double, Double)]) =
    Bench.report("testdata/sf0.1", 32, results,
      Bench.canaries(SparkEntry.queries.keys.toSeq)
        .map(n => (n, 1234.5678, 1234.5678)),
      Seq(1.0, 2.0, 3.0), canaryContaminated = true, readj,
      "BENCH_FULL.json")

  test("report: the headline stays under 1.5 KB with every query failed") {
    val readj = names.take(10).map(n => (n, 12345.678, 12345.678))
    val (durable, line) = report(names.map(_ -> -1.0), readj)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes <= 1500, s"$bytes bytes: $line")
    assert(line.contains("\"n_failed\":323"), line)
    assert(line.contains("\"" + names.head + "\""), "lists failed names")
    assert(!line.contains("\"queries\""), "the per-query map stays durable")
    for (k <- Seq("metric", "value", "n_queries", "failed", "mean_sec",
        "p50_sec", "parallelism", "canary", "canary_contaminated",
        "readjudicated", "full"))
      assert(line.contains("\"" + k + "\":"), s"headline lacks $k: $line")
    assert(readj.forall(r => line.contains("\"" + r._1 + "\":{")), line)
    assert(names.forall(n => durable.contains("\"" + n + "\":-1.0")))
    // every query also readjudicated: that list is capped too, and the
    // durable record keeps every entry
    val allReadj = names.map(n => (n, 12345.678, 12345.678))
    val (durableAll, lineAll) = report(names.map(_ -> -1.0), allReadj)
    val bytesAll = lineAll.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytesAll <= 1500, s"$bytesAll bytes: $lineAll")
    assert(lineAll.contains("\"n_readjudicated\":323"), lineAll)
    assert(lineAll.contains("\"" + names.head + "\":{"), lineAll)
    assert(allReadj.forall(r =>
      durableAll.contains("\"" + r._1 + "\":{\"sweep\"")), durableAll)
  }

  test("report: the durable record holds every query's seconds") {
    val results = names.zipWithIndex.map { case (n, i) => n -> (i + 0.25) }
    val (durable, line) = report(results, Seq.empty)
    val queries = "\"queries\":" + results
      .map { case (n, v) => "\"" + n + "\":" + v }.mkString("{", ",", "}")
    assert(durable.contains(queries), durable)
    assert(durable.contains("\"n_queries\":323"))
    assert(durable.contains("\"sf\":\"testdata/sf0.1\""))
    assert(durable.contains("\"canary_mid\":[1.000,2.000,3.000]"))
    assert(line.contains("\"failed\":[],\"mean_sec\":161.250"), line)
    assert(line.getBytes("UTF-8").length <= 1500, line)
  }
}
