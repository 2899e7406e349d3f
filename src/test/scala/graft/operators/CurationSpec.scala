package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("assignSplits is deterministic, partition-invariant, and ~80/10/10") {
    val df = spark.range(10000).toDF("id")
    val once = Curation.assignSplits(df, "id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    // hash split tracks the requested fractions within a few percent
    assert(math.abs(once("train") - 8000L) < 400, s"train=${once("train")}")
    assert(math.abs(once("validation") - 1000L) < 200)
    assert(math.abs(once("test") - 1000L) < 200)
    // same ids, different partitioning → identical assignment per id
    val a = Curation.assignSplits(df, "id").select("id", "split")
    val b = Curation.assignSplits(df.repartition(17), "id")
      .select("id", "split")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // growing the corpus never reassigns an existing id
    val grown = Curation.assignSplits(spark.range(20000).toDF("id"), "id")
      .select("id", "split").filter($"id" < 10000)
    assert(a.except(grown).count() == 0)
  }

  test("hashSample: deterministic, rate-accurate, subset-stable") {
    val df = spark.range(20000).toDF("id")
    val s10 = Curation.hashSample(df, "id", 0.1)
    val n = s10.count()
    assert(math.abs(n - 2000L) < 200, s"10% of 20k ≈ 2000, got $n")
    // identical under repartitioning
    val s10b = Curation.hashSample(df.repartition(13), "id", 0.1)
    assert(s10.except(s10b).count() == 0 && s10b.except(s10).count() == 0)
    // nested rates: the 10% sample is a subset of the 25% sample
    val s25 = Curation.hashSample(df, "id", 0.25)
    assert(s10.except(s25).count() == 0, "smaller rate must nest in larger")
    assert(Curation.hashSample(df, "id", 0.0).count() == 0)
    assert(Curation.hashSample(df, "id", 1.0).count() == 20000)
    intercept[IllegalArgumentException] { Curation.hashSample(df, "id", 1.5) }
  }

  test("stratifiedHashSample: per-stratum rates, default for the rest") {
    val df = spark.range(30000).toDF("id")
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod($"id", lit(3)) + 1).cast("int")))
    val out = Curation.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 0.1, "de" -> 0.5), defaultRate = 1.0)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(out("en") - 1000L) < 200, s"en=${out("en")}")
    assert(math.abs(out("de") - 5000L) < 400, s"de=${out("de")}")
    assert(out("fr") == 10000L, "default rate 1.0 keeps every fr row")
    // agreement with the unstratified sampler at the same rate: the kept
    // set within a stratum is exactly hashSample of that stratum
    val en = Curation.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 0.1), 1.0).filter($"lang" === "en").select("id")
    val enDirect = Curation.hashSample(df.filter($"lang" === "en"), "id", 0.1)
      .select("id")
    assert(en.except(enDirect).count() == 0 && enDirect.except(en).count() == 0)
  }

  test("assignSplits validates percentages") {
    val df = spark.range(10).toDF("id")
    intercept[IllegalArgumentException] {
      Curation.assignSplits(df, "id", trainPct = 80, valPct = 30)
    }
  }

  test("redactPii replaces emails, phones, IPs and counts each") {
    val rows = Seq(
      (1L, "write to alice.smith+x@example.co.uk today"),
      (2L, "call 555-123-4567 or 555.987.6543"),
      (3L, "server at 192.168.0.1 and 10.0.0.255"),
      (4L, "mixed: bob@x.io, 111-222-3333, 8.8.8.8"),
      (5L, "clean text, no pii at all; v1.2 stays")
    ).toDF("id", "text")
    val got = Curation.redactPii(rows, "text")
      .select("id", "n_email", "n_phone", "n_ip", "redacted")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1, 0, 0, "write to <EMAIL> today")))
    assert(got(1) == ((2L, 0, 2, 0, "call <PHONE> or <PHONE>")))
    assert(got(2) == ((3L, 0, 0, 2, "server at <IP> and <IP>")))
    assert(got(3) == ((4L, 1, 1, 1, "mixed: <EMAIL>, <PHONE>, <IP>")))
    assert(got(4) == ((5L, 0, 0, 0, "clean text, no pii at all; v1.2 stays")))
  }

  test("decontaminate drops docs sharing an n-gram with the benchmark") {
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a quick brown fox jumps over my fence"), // 5-gram overlap
      (2L, "completely unrelated sentence about spark engines here"),
      (3L, "the quick brown fox jumps"),             // exact 5-gram
      (4L, "tiny doc")                               // < n tokens → survives
    ).toDF("doc_id", "text")
    val surviving = Curation.decontaminate(corpus, benchmark,
      "doc_id", "text", n = 5).select("doc_id").as[Long].collect().sorted
    assert(surviving.toSeq == Seq(2L, 4L))
  }

  test("evalCarve: k per stratum, partition-invariant, growth-stable") {
    val df = spark.range(3000).toDF("id")
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod($"id", lit(3)) + 1).cast("int")))
    val carved = Curation.evalCarve(df, "id", "lang", 4)
    assert(carved.groupBy("lang").count().as[(String, Long)]
      .collect().toMap.values.forall(_ == 4L))
    val again = Curation.evalCarve(df.repartition(13), "id", "lang", 4)
      .select("lang", "rank", "id")
    assert(carved.select("lang", "rank", "id").except(again).count() == 0)
    // adding unrelated docs never evicts a carved doc of another stratum
    val grown = Curation.evalCarve(
      df.union(spark.range(5000, 5100).toDF("id")
        .withColumn("lang", lit("zh"))), "id", "lang", 4)
    assert(grown.filter($"lang" =!= "zh").select("lang", "rank", "id")
      .except(carved.select("lang", "rank", "id")).count() == 0)
  }

  test("temperatureSample: alpha=1 keeps all; low alpha flattens toward uniform") {
    val df = spark.range(10000).toDF("id")
      .withColumn("lang", when($"id" % 10 === 0, "rare").otherwise("common"))
    assert(Curation.temperatureSample(df, "id", "lang", 1.0).count() == 10000,
      "alpha=1 must keep the corpus unchanged")
    val flat = Curation.temperatureSample(df, "id", "lang", 0.3)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(flat("rare") == 1000L, "the rarest stratum keeps everything")
    assert(flat("common") < 9000L, "dominant strata downsample")
    // flattening: the kept shares are closer to uniform than the input
    val keptShareRare = flat("rare").toDouble / (flat("rare") + flat("common"))
    assert(keptShareRare > 0.1, s"rare share must rise above input 0.1: $keptShareRare")
    intercept[IllegalArgumentException] {
      Curation.temperatureSample(df, "id", "lang", 0.0)
    }
    // null stratum is a stratum like any other — never silently dropped
    val withNull = spark.range(1000).toDF("id")
      .withColumn("lang", when($"id" % 2 === 0, "en"))
    assert(Curation.temperatureSample(withNull, "id", "lang", 1.0)
      .count() == 1000, "alpha=1 must keep null-stratum rows too")
    val flatNull = Curation.temperatureSample(withNull, "id", "lang", 0.3)
    assert(flatNull.filter($"lang".isNull).count() > 0,
      "null stratum must survive resampling at its own rate")
  }

  test("mixtureSample: hits target shares, binding stratum keeps all, " +
      "unlisted strata drop") {
    // corpus: 70% web, 20% code, 10% books, plus an unlisted stratum
    val df = spark.range(20000).toDF("id")
      .withColumn("src",
        when($"id" % 100 < 70, "web")
          .when($"id" % 100 < 90, "code")
          .when($"id" % 100 < 99, "books")
          .otherwise("junk"))
    // target: equal thirds. books is binding (w/p = .333/.09 max) →
    // keeps everything; web/code downsample toward it; junk (no
    // weight) drops entirely.
    val third = 1.0 / 3
    val kept = Curation.mixtureSample(df, "id", "src",
      Map("web" -> third, "code" -> third, "books" -> third))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("junk"), "unlisted stratum must be dropped")
    assert(kept("books") == df.filter($"src" === "books").count(),
      "binding stratum keeps every row")
    // kept composition ≈ target (md5-cut sampling noise only)
    val total = kept.values.sum.toDouble
    for (s <- Seq("web", "code", "books"))
      assert(math.abs(kept(s) / total - third) < 0.02,
        s"$s share ${kept(s) / total} must be within 2pp of target $third")
    // downsample-only: never more rows than the input stratum
    assert(kept("web") < df.filter($"src" === "web").count())
    // null stratum has no target weight → dropped like any unlisted one
    val withNull = spark.range(100).toDF("id")
      .withColumn("src", when($"id" % 2 === 0, "en"))
    assert(Curation.mixtureSample(withNull, "id", "src", Map("en" -> 1.0))
      .filter($"src".isNull).count() == 0)
    intercept[IllegalArgumentException] {
      Curation.mixtureSample(df, "id", "src", Map("web" -> -0.1))
    }
    // target names ONLY absent strata → rate arithmetic hits 0/0; the
    // contract (a mixture is exhaustive) demands the empty frame, not
    // the NaN-keeps-everything failure mode
    assert(Curation.mixtureSample(df, "id", "src", Map("absent" -> 1.0))
      .count() == 0, "all-zero-weight corpus must drop entirely")
  }

  test("selectUnderBudget matches the single-window greedy prefix") {
    // 2000 rows, scores with heavy ties (score = id % 50) so tie-break
    // order and bucket-boundary ties are both exercised; tokens vary
    val df = spark.range(2000).toDF("id")
      .withColumn("score", ($"id" % 50).cast("double"))
      .withColumn("tok", ($"id" % 7 + 1).cast("long"))
      .repartition(13) // partitioning must not matter
    val got = Curation.selectUnderBudget(df, "id", "score", "tok", 3000L)
    // oracle: one global window (fine at test size)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"id".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df.withColumn("cum_tokens", sum($"tok").over(w))
      .filter($"cum_tokens" <= 3000L)
    assert(got.count() == want.count())
    assert(got.except(want).count() == 0 && want.except(got).count() == 0,
      "bucketed prefix sum must equal the global-window greedy prefix")
    // spent budget is maximal: adding the next-best row would overflow
    val spent = got.agg(max($"cum_tokens")).head().getLong(0)
    assert(spent <= 3000L && spent > 3000L - 8,
      s"prefix must be maximal (spent $spent of 3000, max row cost 7)")
    // budget above the corpus total keeps everything
    assert(Curation.selectUnderBudget(df, "id", "score", "tok", 1000000L)
      .count() == 2000)
    intercept[IllegalArgumentException] {
      Curation.selectUnderBudget(df.withColumn("score",
        when($"id" === 0, lit(null)).otherwise($"score")),
        "id", "score", "tok", 100L)
    }
  }

  test("selectUnderBudget rejects NaN scores (they break the greedy order)") {
    // NaN lands in bucket 0 (compares false against every bound) but
    // sorts HIGHEST under score-desc — the guard must reject it, not
    // let the prefix sums silently diverge
    val df = spark.range(100).toDF("id")
      .withColumn("score", when($"id" === 7, lit(Double.NaN))
        .otherwise($"id".cast("double")))
      .withColumn("tok", lit(1L))
    val e = intercept[IllegalArgumentException] {
      Curation.selectUnderBudget(df, "id", "score", "tok", 50L)
    }
    assert(e.getMessage.contains("non-NaN") &&
      e.getMessage.contains("1 offending rows"))
  }

  test("prefix-sum operators reject reserved working/output column names") {
    // an input that already carries cum_tokens/pack_id/_bkt would be
    // silently overwritten by withColumn — the operators must refuse
    val base = spark.range(10).toDF("id")
      .withColumn("score", $"id".cast("double"))
      .withColumn("tok", lit(1L))
    intercept[IllegalArgumentException] {
      Curation.selectUnderBudget(base.withColumn("cum_tokens", lit(0L)),
        "id", "score", "tok", 5L)
    }
    intercept[IllegalArgumentException] {
      Curation.selectUnderBudget(base.withColumn("_bkt", lit(0)),
        "id", "score", "tok", 5L)
    }
    intercept[IllegalArgumentException] {
      Curation.packSequences(base.withColumn("pack_id", lit(0L)),
        "id", "tok", 5L)
    }
  }

  test("selectUnderBudget makes exactly 2 internal passes (quantile + fused subtotal)") {
    // the round-5 shape made 3 internal passes: a dedicated null-guard
    // count, the quantile pass, and the subtotal pass — each re-deriving
    // the scored input. The guard now rides the subtotal aggregate and
    // both internal passes read a cached slim projection. In Spark 4
    // job terms: approxQuantile submits 3 jobs (its named treeAggregate
    // plus one AQE-staged pair) and the fused subtotal collect is one
    // AQE pair (2) → 5; the old dedicated guard scan added 2 more, so
    // a bound of 5 catches any reintroduced extra pass.
    val df = spark.range(5000).toDF("id")
      .withColumn("score", ($"id" % 97).cast("double"))
      .withColumn("tok", ($"id" % 5 + 1).cast("long"))
    val (_, jobs) =
      countJobs(Curation.selectUnderBudget(df, "id", "score", "tok", 1000L))
    assert(jobs <= 5,
      s"operator construction should need ≤5 jobs (2 passes), ran $jobs")
  }

  test("chunkDocuments: stride/overlap arithmetic, tails, empty docs") {
    val docs = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (1L, "a b c"),                                  // shorter than one chunk
      (2L, "")                                        // empty → no chunks
    ).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 4, overlap = 1).orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, String, Int)].collect()
    // doc 0: starts 0,3,6 → [t1..t4],[t4..t7],[t7..t10]; a chunk at
    // start 9 would be "t10" — fully contained in its predecessor —
    // and must NOT be emitted
    val d0 = chunks.filter(_._1 == 0L)
    assert(d0.map(_._3).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7",
      "t7 t8 t9 t10"))
    assert(d0.map(_._4).toSeq == Seq(4, 4, 4))
    val d1 = chunks.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq("a b c") && d1.head._4 == 3)
    assert(!chunks.exists(_._1 == 2L), "empty doc yields no chunks")
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(docs, "doc_id", "text", 4, overlap = 4)
    }
  }

  test("chunkDocuments: zero-overlap chunks reassemble the tokenization") {
    val rng = new scala.util.Random(17)
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(40))("w" + rng.nextInt(9))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val rebuilt = Curation.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 7, overlap = 0)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct($"chunk_idx", $"chunk_text"))).getField("chunk_text"))
        .as("rebuilt"))
    val want = docs.select($"doc_id",
      concat_ws(" ", TextAnalysis.tokens($"text")).as("want"))
    val diff = rebuilt.join(want, "doc_id")
      .filter($"rebuilt" =!= $"want").count()
    assert(diff == 0, "stride=chunk must partition the token stream")
  }

  test("packSequences matches the single-window formulation, any partitioning") {
    val rng = new scala.util.Random(3)
    val docs = Seq.tabulate(500)(i => (i.toLong, 1 + rng.nextInt(400)))
      .toDF("doc_id", "n_tokens")
    // reference: the straightforward (single-reducer) global window
    val wAll = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = docs
      .withColumn("c", sum($"n_tokens".cast("long")).over(wAll))
      .withColumn("pack_id", expr("(c - n_tokens) div 2048"))
      .select("doc_id", "pack_id")
    for (parts <- Seq(1, 7, 32)) {
      val got = Curation.packSequences(docs.repartition(parts),
        "doc_id", "n_tokens", 2048L).select("doc_id", "pack_id")
      assert(got.except(want).count() == 0 && want.except(got).count() == 0,
        s"distributed prefix sum must equal the global window at $parts parts")
    }
    // packs are contiguous, start at 0, and every pack's START offset is
    // a multiple of the budget by construction
    val packs = Curation.packSequences(docs, "doc_id", "n_tokens", 2048L)
      .select("pack_id").distinct().as[Long].collect().sorted
    assert(packs.head == 0L && packs.zipWithIndex.forall {
      case (p, i) => p == i.toLong
    }, s"pack ids must be dense 0..n: ${packs.take(10).toSeq}")
  }

  test("packSequences rejects null order/token rows (fail-fast contract)") {
    val nullToken = Seq((1L, java.lang.Integer.valueOf(10)),
      (2L, null.asInstanceOf[java.lang.Integer]))
      .toDF("doc_id", "n_tokens")
    val e1 = intercept[IllegalArgumentException] {
      Curation.packSequences(nullToken, "doc_id", "n_tokens", 2048L).collect()
    }
    assert(e1.getMessage.contains("1 offending rows"))
    val nullOrder = Seq((java.lang.Long.valueOf(1L), 10),
      (null.asInstanceOf[java.lang.Long], 20)).toDF("doc_id", "n_tokens")
    val e2 = intercept[IllegalArgumentException] {
      Curation.packSequences(nullOrder, "doc_id", "n_tokens", 2048L).collect()
    }
    assert(e2.getMessage.contains("1 offending rows"))
  }

  test("decontaminate plans a shingle semi-join, not a pairwise product") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter($"doc_id" % 50 === 0)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val plan = Curation.decontaminate(corpus, bench, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decontaminate must never plan a product join:\n$plan")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"expected semi + anti joins in:\n$plan")
  }

  test("contaminationReport: exact overlap counts; clean set ≡ decontaminate") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),        // fully contaminated (1 5-gram? no: 4 tokens, n=3 → 2 shingles, both in bench)
      (2L, "alpha beta gamma epsilon zeta"), // partial overlap
      (3L, "one two three four five"),       // clean
      (4L, "x")                              // too short: zero shingles
    ).toDF("doc_id", "text")
    val got = Curation.contaminationReport(corpus, bench, "doc_id", "text",
      n = 3).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toList
    // n=3 shingles: doc1 {abc, bcd} both in bench → frac 1.0;
    // doc2 {abc, bc-eps, c-eps-zeta} → 1 of 3; doc3 none; doc4 empty
    assert(got == List(
      (1L, 2L, 2L, 1.0), (2L, 3L, 1L, round(1.0 / 3, 6)),
      (3L, 3L, 0L, 0.0), (4L, 0L, 0L, 0.0)),
      s"unexpected report: $got")
    val clean = got.filter(_._3 == 0).map(_._1).toSet
    val dec = Curation.decontaminate(corpus, bench, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == dec,
      "n_contaminated = 0 must coincide with decontaminate's keep set")
  }

  private def round(x: Double, dp: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  test("dsirScores: target-like docs outrank junk; empty docs surface as zero") {
    // target distribution is "the quick brown fox"-ish text; doc 1
    // reuses its n-grams, doc 2 shares none, doc 3 is empty. With
    // add-one smoothing the target-side probability of doc 1's buckets
    // dominates, so its log-ratio sum must exceed doc 2's (whose
    // target counts are all zero).
    val target = Seq("the quick brown fox", "the quick red fox",
      "quick brown dogs").toDF("text")
    val raw = Seq(
      (1L, "the quick brown fox"),
      (2L, "zyx wvu tsr qpo"),
      (3L, "")).toDF("doc_id", "text")
    val got = Curation.dsirScores(raw, "doc_id", "text", target, "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    val byId = got.map(r => r._1 -> ((r._2, r._3))).toMap
    // "the quick brown fox": 4 unigrams + 3 bigrams
    assert(byId(1L)._1 == 7L)
    assert(byId(2L)._1 == 7L)
    assert(byId(3L) == ((0L, 0.0)), "empty doc must surface as (0, 0.0)")
    assert(byId(1L)._2 > byId(2L)._2,
      s"target-like doc must outscore junk: $byId")
  }

  test("weightedSample replays the A-Res priority formula exactly") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, (i % 17 + 1).toDouble))
      .toDF("id", "w")
    val got = Curation.weightedSample(df, "id", "w", k = 20)
      .select("id").as[Long].collect().toSet
    // independent replay: same md5-derived u, same ln(u)/w priority
    def pri(id: Long, w: Double): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) /
        (1L << 48).toDouble
      math.log(u) / w
    }
    val want = (1L to 200L).map(i => (i, pri(i, (i % 17 + 1).toDouble)))
      .sortBy { case (i, p) => (-p, i) }.take(20).map(_._1).toSet
    assert(got == want)
  }

  test("weightedSample favors heavy rows and rejects bad weights") {
    import spark.implicits._
    // one row carries (essentially) all the weight: it must be chosen
    val df = (1L to 100L).map(i => (i, if (i == 37L) 1e12 else 1e-12))
      .toDF("id", "w")
    val got = Curation.weightedSample(df, "id", "w", k = 1)
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(37L))
    // deterministic: the same call yields the same sample
    val again = Curation.weightedSample(df, "id", "w", k = 1)
      .select("id").as[Long].collect()
    assert(again.toSeq == got.toSeq)
    val e = intercept[Exception] {
      Curation.weightedSample(
        Seq((1L, 0.0)).toDF("id", "w"), "id", "w", 1).collect()
    }
    assert(e.getMessage.contains("weightedSample requires positive"))
    intercept[IllegalArgumentException] {
      Curation.weightedSample(df, "id", "w", 0)
    }
  }

  test("globalRank equals the single-window row_number, without planning one") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, (i * 37 % 211).toDouble))
      .toDF("id", "score")
    val got = Curation.globalRank(df, "id", "score")
      .select("id", "rank").as[(Long, Long)].collect().toMap
    val want = (1L to 500L).map(i => (i, (i * 37 % 211).toDouble))
      .sortBy { case (i, s) => (-s, i) }
      .zipWithIndex.map { case ((i, _), r) => (i, r + 1L) }.toMap
    assert(got == want)
    // ascending variant
    val asc = Curation.globalRank(df, "id", "score", descending = false)
      .select("id", "rank").as[(Long, Long)].collect().toMap
    val wantAsc = (1L to 500L).map(i => (i, (i * 37 % 211).toDouble))
      .sortBy { case (i, s) => (s, i) }
      .zipWithIndex.map { case ((i, _), r) => (i, r + 1L) }.toMap
    assert(asc == wantAsc)
  }

  test("globalRank rejects null and NaN scores via the fused guard") {
    import spark.implicits._
    val bad = Seq((1L, Some(1.0)), (2L, None)).toDF("id", "score")
    val e = intercept[Exception] {
      Curation.globalRank(bad, "id", "score").collect()
    }
    assert(e.getMessage.contains("globalRank requires"))
    val nan = Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "score")
    val e2 = intercept[Exception] {
      Curation.globalRank(nan, "id", "score").collect()
    }
    assert(e2.getMessage.contains("globalRank requires"))
  }

  test("noveltyScore: exact shingle fractions against the reference") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text")
    // ref trigrams: {a b c, b c d}
    val corpus = Seq(
      (1L, "a b c d"),      // both trigrams seen -> novelty 0
      (2L, "a b c x"),      // {a b c(seen), b c x} -> 1/2 novel
      (3L, "x y z w"),      // fully novel -> 1000000
      (4L, "a b"),          // < 3 tokens -> (0,0,0)
      (5L, "b c d a b c")   // {b c d, c d a, d a b, a b c}: 2/4 novel
    ).toDF("doc_id", "text")
    val got = Curation.noveltyScore(corpus, ref, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 2L, 0L, 0L),
      (2L, 2L, 1L, 500000L),
      (3L, 2L, 2L, 1000000L),
      (4L, 0L, 0L, 0L),
      (5L, 4L, 2L, 500000L)), got.toString)
  }

  test("noveltyScore: self-reference scores zero novelty everywhere") {
    import spark.implicits._
    val docs = Seq((1L, "p q r s"), (2L, "s t u")).toDF("doc_id", "text")
    val got = Curation.noveltyScore(docs, docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got.forall(r => r._3 == 0L && r._4 == 0L), got.toString)
  }

  test("lengthBatches: ascending-length runs, exact padding accounting") {
    import spark.implicits._
    // lengths 10,10,20,30,40,50 at batchSize 2 → batches (10,10),
    // (20,30), (40,50): padding 0, 10, 10
    val df = Seq((1L, 10L), (2L, 10L), (3L, 30L), (4L, 20L), (5L, 50L),
      (6L, 40L)).toDF("id", "len")
    val batches = Curation.lengthBatches(df, "id", "len", batchSize = 2)
    val assign = batches.select("id", "batch_id")
      .as[(Long, Long)].collect().toMap
    assert(assign == Map(1L -> 0L, 2L -> 0L, 4L -> 1L, 3L -> 1L,
      5L -> 2L, 6L -> 2L))
    val stats = Curation.paddingStats(batches, "len")
      .orderBy("batch_id")
      .select("batch_id", "n_rows", "max_len", "padding")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(stats == List((0L, 2L, 10L, 0L), (1L, 2L, 30L, 10L),
      (2L, 2L, 50L, 10L)))
    // a partial last batch accounts only its own rows
    val odd = Curation.lengthBatches(
      df.union(Seq((7L, 60L)).toDF("id", "len")), "id", "len", 2)
    val last = Curation.paddingStats(odd, "len")
      .orderBy(col("batch_id").desc).limit(1)
      .select("n_rows", "max_len", "padding")
      .as[(Long, Long, Long)].head()
    assert(last == ((1L, 60L, 0L)))
  }

  test("quotaCap keeps at most quota rows per group, md5-rank order") {
    import spark.implicits._
    val docs = (0L until 50L).map(i =>
      (i, if (i < 40) "big" else "small")).toDF("doc_id", "source")
    val out = Curation.quotaCap(docs, "source", "doc_id", quota = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byGroup = out.groupBy(_._1)
    // the big group is capped at the quota; the small one fits whole
    assert(byGroup("big").length == 10)
    assert(byGroup("small").length == 10)
    // ranks are 1..n and ordered by ascending 48-bit md5 bucket
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16)
    }
    for ((_, rows) <- byGroup) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length))
      val buckets = sorted.map(t => bucket(t._3))
      assert(buckets.zip(buckets.tail).forall { case (a, b) => a <= b })
    }
    // the kept "big" members are exactly the 10 smallest buckets
    val keptBig = byGroup("big").map(_._3).toSet
    val wantBig = (0L until 40L).sortBy(bucket).take(10).toSet
    assert(keptBig == wantBig)
  }

  test("quotaCap is invariant under repartitioning; rejects bad quota") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"s${i % 3}"))
      .toDF("doc_id", "source")
    val a = Curation.quotaCap(docs, "source", "doc_id", 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val b = Curation.quotaCap(docs.repartition(7), "source", "doc_id", 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
    intercept[IllegalArgumentException] {
      Curation.quotaCap(docs, "source", "doc_id", 0)
    }
  }

  test("paretoFrontier keeps exactly the strictly-undominated rows") {
    import spark.implicits._
    // (x, y): frontier under strict dominance = (5,1), (3,4), (1,9).
    // (2,3) is beaten by (3,4); (1,1) by (3,4); (4,1) is NOT beaten by
    // (5,1) (y tie is not strict) -> also on the frontier.
    val df = Seq(
      (1L, 5.0, 1.0), (2L, 3.0, 4.0), (3L, 1.0, 9.0),
      (4L, 2.0, 3.0), (5L, 1.0, 1.0), (6L, 4.0, 1.0)
    ).toDF("id", "x", "y")
    val out = Curation.paretoFrontier(df, "id", "x", "y")
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 6L))
  }

  test("paretoFrontier: ties on an axis never eliminate each other") {
    import spark.implicits._
    // all rows share x -> nothing strictly dominates anything
    val df = Seq((1L, 2.0, 1.0), (2L, 2.0, 5.0), (3L, 2.0, 9.0))
      .toDF("id", "x", "y")
    val out = Curation.paretoFrontier(df, "id", "x", "y").count()
    assert(out == 3L)
  }

  test("paretoFrontier matches the quadratic definition on a random-ish frame") {
    import spark.implicits._
    // deterministic pseudo-random points from integer arithmetic
    val pts = (1 to 200).map { i =>
      (i.toLong, ((i * 37) % 101).toDouble, ((i * 61) % 97).toDouble)
    }
    val df = pts.toDF("id", "x", "y")
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) => x2 > x && y2 > y }
    }.map(_._1).toSet
    val got = Curation.paretoFrontier(df, "id", "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == expected)
  }

  test("mixtureBudgetRates: exact micro arithmetic, clamping, zero weights") {
    import spark.implicits._
    // en: 400 tokens, de: 40 tokens, xx: 100 tokens (unweighted)
    val df = (Seq.fill(4)(("en", 100L)) ++ Seq(("de", 40L), ("xx", 100L)))
      .toDF("lang", "tok")
    val rows = Curation.mixtureBudgetRates(df, "lang", "tok",
      Map("en" -> 600000L, "de" -> 400000L), budgetTokens = 500L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // en: target = 500*600000/1000000 = 300; rate = 300e6/400 = 750000
    assert(rows("en") == ((400L, 600000L, 300L, 750000L)))
    // de: target = 200 but only 40 tokens exist -> rate clamps to 1e6
    assert(rows("de") == ((40L, 400000L, 200L, 1000000L)))
    // xx: no weight -> target 0, rate 0
    assert(rows("xx") == ((100L, 0L, 0L, 0L)))
    intercept[IllegalArgumentException] {
      Curation.mixtureBudgetRates(df, "lang", "tok", Map.empty, 10L)
    }
    intercept[IllegalArgumentException] {
      Curation.mixtureBudgetRates(df, "lang", "tok",
        Map("en" -> 1000000L), Long.MaxValue / 2)
    }
  }

  test("cluster-keyed splits keep near-duplicates in ONE split") {
    import spark.implicits._
    // docs 1/2/3 are exact duplicates (Jaccard 1 → every LSH band
    // matches, clustering is deterministic); 4 is a singleton.
    // Splitting on the CLUSTER representative must give 1,2,3 the same
    // split even though their per-doc hashes differ.
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup),
      (4L, "completely different text with other words entirely here")
    ).toDF("doc_id", "text")
    val clusters = Clustering.nearDupClusters(docs, "doc_id", "text")
      .withColumnRenamed("component", "cluster_rep")
    val split = Curation.assignSplits(clusters, "cluster_rep")
      .select("doc_id", "cluster_rep", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = split.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    byCluster.foreach { case (rep, splits) =>
      assert(splits.size == 1, s"cluster $rep straddles splits: $splits")
    }
    assert(split.filter(_._2 == 1L).map(_._1).toSet == Set(1L, 2L, 3L),
      "the three near-dups share the min-id representative")
  }

  test("paretoFrontier is idempotent: the frontier of a frontier is itself") {
    import spark.implicits._
    val pts = (1 to 120).map { i =>
      (i.toLong, ((i * 53) % 89).toDouble, ((i * 31) % 83).toDouble)
    }
    val once = Curation.paretoFrontier(pts.toDF("id", "x", "y"),
      "id", "x", "y")
    val twice = Curation.paretoFrontier(once, "id", "x", "y")
    assert(once.select("id").as[Long].collect().toSet ==
      twice.select("id").as[Long].collect().toSet)
  }

  test("paretoFrontier rejects null and NaN coordinates") {
    import spark.implicits._
    val df = Seq((1L, Some(1.0), 2.0), (2L, None, 3.0)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      Curation.paretoFrontier(df, "id", "x", "y").collect()
    }
  }

  test("packSequencesByGroup ≡ packSequences run per group, any partitioning") {
    import spark.implicits._
    val rows = (1 to 200).map { i =>
      (i.toLong, s"g${i % 3}", (i * 37 % 90 + 5).toLong)
    }
    val df = rows.toDF("id", "grp", "tok").repartition(7)
    val got = Curation.packSequencesByGroup(df, "grp", "id", "tok", 256L)
      .select($"id", $"pack_id").as[(Long, Long)].collect().toMap
    // reference: the GLOBAL pack machinery applied group by group
    val want = rows.map(_._2).distinct.flatMap { g =>
      Curation.packSequences(df.filter($"grp" === g), "id", "tok", 256L)
        .select($"id", $"pack_id").as[(Long, Long)].collect()
    }.toMap
    assert(got == want && got.size == 200)
    // each group's first doc starts pack 0 (the restart property)
    rows.map(_._2).distinct.foreach { g =>
      val firstId = rows.filter(_._2 == g).map(_._1).min
      assert(got(firstId) == 0L, s"group $g must restart at pack 0")
    }
    // null rows are rejected loudly
    val withNull = Seq((1L, "g", Some(5L)), (2L, "g", None))
      .toDF("id", "grp", "tok")
    intercept[IllegalArgumentException] {
      Curation.packSequencesByGroup(withNull, "grp", "id", "tok", 10L)
        .collect()
    }
  }

  test("hashedLinearScore: exact integer weights, truncating division") {
    import spark.implicits._
    // independent replica of the weight arithmetic (JDK md5, not Spark)
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val bucket = java.lang.Long.parseLong(hex.take(8), 16) % 64L
      (bucket * 2654435761L) % 1001L - 500L
    }
    val docs = Seq((1L, "Alpha beta alpha"), (2L, ""), (3L, "gamma"))
      .toDF("id", "text")
    val got = Curation.hashedLinearScore(docs, "id", "text", 64)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // tokenization lowercases: "Alpha" and "alpha" share a bucket
    val s1 = 2 * weight("alpha") + weight("beta")
    // Scala Long division truncates toward zero — the div/`//` contract
    assert(got(1L) == ((1L, 3L, s1, s1 * 1000000L / 3L, s1 > 0L)))
    assert(got(2L) == ((2L, 0L, 0L, 0L, false)))
    val s3 = weight("gamma")
    assert(got(3L) == ((3L, 1L, s3, s3 * 1000000L, s3 > 0L)))
  }

  test("diversitySample caps every bucket at perBucket, deterministically") {
    import spark.implicits._
    // 60 near-identical docs (one shared template -> one hot simhash
    // bucket) + a handful of distinct ones
    val docs = ((1 to 60).map(i =>
      (i.toLong, "the same template text repeated across documents")) ++
      Seq((101L, "completely different content about other things"),
        (102L, "yet another unique document body here")))
      .toDF("id", "text")
    val got = Curation.diversitySample(docs, "id", "text",
      numBuckets = 16, perBucket = 3)
      .as[(Long, Int, Long)].collect()
    val perBucket = got.groupBy(_._1).view.mapValues(_.length)
    assert(perBucket.values.forall(_ <= 3),
      s"bucket overflow: ${perBucket.toMap}")
    // the 60-dup template contributes at most 3 of its members
    assert(got.count(_._3 <= 60L) <= 3)
    // deterministic: a second run returns the identical sample
    val again = Curation.diversitySample(docs, "id", "text",
      numBuckets = 16, perBucket = 3).as[(Long, Int, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("curriculumPhases: contiguous floor-boundary phases, easy first") {
    import spark.implicits._
    // 10 rows, scores 10..1 -> rank by (score ASC, id ASC); 4 phases
    // over n=10: boundaries at floor(r-1)*4/10 -> sizes 3,2,3,2
    val df = (1 to 10).map(i => (i.toLong, (11 - i).toLong))
      .toDF("id", "difficulty")
    val got = Curation.curriculumPhases(df, "id", "difficulty", 4)
      .as[(Long, Long, Long, Int, Long)].collect()
    assert(got.map(_._3).toSeq == (1L to 10L))           // rank order
    assert(got.map(_._2).toSeq == (1L to 10L))           // easy first
    assert(got.map(_._4).toSeq ==
      Seq(0, 0, 0, 1, 1, 2, 2, 2, 3, 3))                 // phases
    // positions restart at 1 inside each phase
    assert(got.map(_._5).toSeq ==
      Seq(1L, 2L, 3L, 1L, 2L, 1L, 2L, 3L, 1L, 2L))
    // float scores are rejected loudly
    intercept[IllegalArgumentException] {
      Curation.curriculumPhases(
        Seq((1L, 0.5)).toDF("id", "s"), "id", "s", 4)
    }
  }

  test("conversationStats validates structure with pure array expressions") {
    import spark.implicits._
    val docs = Seq(
      (1L, """[{"role":"user","content":"hi"},{"role":"assistant","content":"hello"}]"""),
      (2L, """[{"role":"user","content":"a"},{"role":"user","content":"b"},{"role":"assistant","content":"c"}]"""),
      (3L, "not json at all"),
      (4L, "[]"))
      .toDF("id", "convo")
    val got = Curation.conversationStats(docs, "id", "convo")
      .as[(Long, Boolean, Int, Int, Int, Option[String], Option[String],
        Boolean, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, true, 2, 1, 1, Some("user"),
      Some("assistant"), true, 7L)))
    // double-user opening: alternation violated
    assert(got(2L) == ((2L, true, 3, 2, 1, Some("user"),
      Some("assistant"), false, 3L)))
    assert(got(3L) == ((3L, false, 0, 0, 0, None, None, false, 0L)))
    assert(got(4L) == ((4L, true, 0, 0, 0, None, None, true, 0L)))
  }

  test("conversationTurns normalizes away roles, case, and whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, """[{"role":"user","content":"Hello   World"},{"role":"assistant","content":" ok "}]"""),
      (2L, """[{"role":"USER","content":"  hello world"},{"role":"bot","content":"OK"}]"""),
      (3L, "not json"))
      .toDF("id", "convo")
    val got = Curation.conversationTurns(docs, "id", "convo")
      .as[(Long, Int, String)].collect().toSet
    // docs 1 and 2 re-serialize the SAME dialogue: identical turn rows
    assert(got == Set((1L, 0, "hello world"), (1L, 1, "ok"),
      (2L, 0, "hello world"), (2L, 1, "ok")))
  }

  test("conversationDedup collapses re-serialized copies, keeps min id") {
    import spark.implicits._
    val a = """[{"role":"user","content":"What is  Spark?"},{"role":"assistant","content":"An engine."}]"""
    val b = """[{"role":"Human","content":"  what is spark? "},{"role":"AI","content":"an ENGINE."}]"""
    val c = """[{"role":"user","content":"Different."}]"""
    val docs = Seq((5L, a), (2L, b), (9L, c), (7L, "not json"),
      (8L, "also { not json")).toDF("id", "convo")
    val got = Curation.conversationDedup(docs, "id", "convo")
      .as[(Long, Option[String], Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // 2 and 5 are the same dialogue re-serialized: min id 2 keeps
    assert(got(2L)._3 == 2L && got(2L)._4 == 2L && got(2L)._5)
    assert(got(5L)._3 == 2L && got(5L)._4 == 2L && !got(5L)._5)
    assert(got(2L)._2 == got(5L)._2 && got(2L)._2.isDefined)
    // the unique parse keeps; both turn orders matter: (a, b) != (b, a)
    assert(got(9L)._3 == 1L && got(9L)._5)
    // malformed rows never dedup against each other: null digests,
    // each its own single-copy kept group
    assert(got(7L)._2.isEmpty && got(8L)._2.isEmpty)
    assert(got(7L)._3 == 1L && got(7L)._4 == 7L && got(7L)._5)
    assert(got(8L)._3 == 1L && got(8L)._4 == 8L && got(8L)._5)
    // turn-boundary aliasing is impossible: ["ab","c"] vs ["a","bc"]
    val alias = Seq(
      (1L, """[{"role":"u","content":"ab"},{"role":"a","content":"c"}]"""),
      (2L, """[{"role":"u","content":"a"},{"role":"a","content":"bc"}]"""))
      .toDF("id", "convo")
    val ad = Curation.conversationDedup(alias, "id", "convo")
      .as[(Long, Option[String], Long, Long, Boolean)].collect()
    assert(ad.forall(_._3 == 1L), s"boundary aliasing: ${ad.toSeq}")
  }

  test("lengthRatioFilter: ratio, bounds and keep verdicts") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "one two three four five", "uno dos tres cuatro"),  // 5 vs 4
      (2L, "one two three four five six seven eight", "uno"),  // 8 vs 1
      (3L, "src tokens here", ""),                             // empty tgt
      (4L, "a b", "c d")).toDF("id", "src", "tgt")
    val got = Curation.lengthRatioFilter(pairs, "id", "src", "tgt",
      minTokens = 1, maxTokens = 6, ratioMicro = 500000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got(1L) == ((5L, 4L, 800000L, true, true, true)))
    // 8 tokens breaks maxTokens AND ratio 1/8
    assert(got(2L) == ((8L, 1L, 125000L, false, false, false)))
    assert(got(3L) == ((3L, 0L, 0L, false, false, false)))
    assert(got(4L) == ((2L, 2L, 1000000L, true, true, true)))
  }

  test("apportionBudget: allocations sum to the budget exactly") {
    import spark.implicits._
    // sizes 5, 3, 1 with budget 7: floors 3,2,0 (sum 5) — the 2
    // leftovers go to the largest remainders 8/9 (a: 35%9=8) and
    // 3/9... remainders: a: 35%9=8, b: 21%9=3, c: 7%9=7 -> a, c
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .toDF("g")
    val got = Curation.apportionBudget(df, "g", budget = 7L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("a") == ((3L, 8L, 1L, 4L)), s"a: ${got("a")}")
    assert(got("b") == ((2L, 3L, 0L, 2L)))
    assert(got("c") == ((0L, 7L, 1L, 1L)))
    assert(got.values.map(_._4).sum == 7L, "exact budget")
    // zero budget: all-zero allocations
    assert(Curation.apportionBudget(df, "g", 0L)
      .agg(org.apache.spark.sql.functions.sum("allocation"))
      .collect().head.getLong(0) == 0L)
  }
}
