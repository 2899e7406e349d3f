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
}
