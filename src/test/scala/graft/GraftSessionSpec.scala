package graft

class GraftSessionSpec extends SparkSpec {

  test("the test session carries every non-deployment conf of GraftSession.builder(4)") {
    GraftSession.confs(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k: want $v")
    }
  }

  test("cpusOf: positive integers parse, unset and malformed fall back to availableProcessors") {
    val all = Runtime.getRuntime.availableProcessors
    assert(GraftSession.cpusOf(None) == all)
    assert(GraftSession.cpusOf(Some("3")) == 3)
    assert(GraftSession.cpusOf(Some(" 8 ")) == 8)
    assert(GraftSession.cpusOf(Some("ten")) == all)
    assert(GraftSession.cpusOf(Some("")) == all)
    assert(GraftSession.cpusOf(Some("0")) == all)
  }

  test("noopSeconds: elapsed seconds for a frame, -1.0 when building or running it fails") {
    assert(GraftSession.noopSeconds("ok")(spark.range(10).toDF()) >= 0.0)
    assert(GraftSession.noopSeconds("build")(sys.error("boom")) == -1.0)
    assert(GraftSession.noopSeconds("run")(
      spark.range(1).selectExpr("raise_error('boom')")) == -1.0)
  }

  test("countJobs: exactly the body's jobs and their stages") {
    import GraftSession.JobCount
    val (n, none) = countJobs(1 + 1)
    assert(n == 2 && none == 0)
    val sc = spark.sparkContext
    val (_, one) = GraftSession.countJobs(spark)(
      sc.parallelize(1 to 10, 2).map(x => (x % 2, x)).reduceByKey(_ + _)
        .collect())
    assert(one == JobCount(jobs = 1, stages = 2))
    val (_, two) = GraftSession.countJobs(spark) {
      sc.parallelize(1 to 10, 2).count()
      sc.parallelize(1 to 10, 2).count()
    }
    assert(two == JobCount(jobs = 2, stages = 2))
  }
}
