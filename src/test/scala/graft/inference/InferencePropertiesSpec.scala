package graft.inference

import graft.SparkSpec
import graft.types.RedshiftType
import graft.types.RedshiftType._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based conformance (SURVEY.md §5.5): generated string columns
  * with a known ground-truth type must infer exactly that type, and
  * inference must be monotone along the widening lattice when rows are
  * appended.
  *
  * All generated columns are packed into ONE wide DataFrame per
  * property so the whole suite costs two fused-aggregation jobs, not
  * one job per case. Generation is scalacheck `Gen` with a fixed seed —
  * deterministic, but structurally random across ~200 columns.
  */
class InferencePropertiesSpec extends SparkSpec {

  // ---- generators: (ground truth, column values) ----

  private val genBool: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, Gen.oneOf("true", "false", "t", "f", "0", "1",
      "TRUE", "False", "T", "F"))
  } yield (Bool, vs)

  private val genInt4: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, Gen.chooseNum(Int.MinValue, Int.MaxValue))
    anchor <- Gen.chooseNum(2, 1000) // forces escape from the bool domain
  } yield (Int4, (anchor :: vs).map(_.toString))

  private val genInt8: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
    big <- Gen.oneOf(3000000000L, -3000000000L) // outside ±2^31
  } yield (Int8, (big :: vs).map(_.toString))

  private val genFloat8: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))
    frac <- Gen.chooseNum(0.001, 0.999) // guarantees a non-integral value
    nan <- Gen.oneOf(Nil, List("NaN")) // NaN strings stay float-castable
  } yield (Float8, ((1.5 + frac) :: vs).map(_.toString) ++ nan)

  // 'NaN' strings are numeric-castable (Python float('nan') succeeds)
  // but contribute no integral/min/max rows → float8, like the
  // reference's parquet path (RAS:322-325)
  private val genAllNaN: Gen[(RedshiftType, List[String])] =
    Gen.chooseNum(1, 4).map(n => (Float8, List.fill(n)("NaN")))

  private val genDate: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, for {
      y <- Gen.chooseNum(1990, 2030); m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 28)
    } yield f"$y%04d-$m%02d-$d%02d")
  } yield (Date, vs)

  private val genTimestamp: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, for {
      y <- Gen.chooseNum(1990, 2030); m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 28); h <- Gen.chooseNum(0, 23)
      mi <- Gen.chooseNum(0, 59)
    } yield f"$y%04d-$m%02d-$d%02d $h%02d:$mi%02d:17")
  } yield (Timestamp, vs) // :17 seconds → never all-midnight

  private val genVarchar256: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(1, 8)
    vs <- Gen.listOfN(n, Gen.chooseNum(1, 240).flatMap(len =>
      Gen.listOfN(len, Gen.alphaChar).map(_.mkString)))
    anchor <- Gen.listOfN(5, Gen.alphaChar).map("x" + _.mkString)
  } yield (Varchar256, anchor :: vs)

  private val genVarchar65535: Gen[(RedshiftType, List[String])] = for {
    n <- Gen.chooseNum(0, 4)
    vs <- Gen.listOfN(n, Gen.listOfN(10, Gen.alphaChar).map(_.mkString))
    long <- Gen.listOfN(241, Gen.alphaChar).map(_.mkString)
  } yield (Varchar65535, long :: vs)

  private val genAny: Gen[(RedshiftType, List[String])] = Gen.oneOf(
    genBool, genInt4, genInt8, genFloat8, genAllNaN, genDate,
    genTimestamp, genVarchar256, genVarchar65535)

  // For the monotonicity property only: an all-'NaN' column's float8 is
  // a DEFAULT (no integral evidence), so appending integer rows
  // legitimately "narrows" it to int4 — the lattice claim applies to
  // evidence-based types, exactly as it excludes notype.
  private val genEvidence: Gen[(RedshiftType, List[String])] = Gen.oneOf(
    genBool, genInt4, genInt8, genFloat8, genDate, genTimestamp,
    genVarchar256, genVarchar65535)

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** Pack value lists into one all-string DataFrame (c0, c1, …), rows
    * padded with null — inference ignores nulls for every non-notype
    * column, so padding never changes the expected type. */
  private def pack(cols: Seq[List[String]]): org.apache.spark.sql.DataFrame = {
    val height = math.max(1, cols.map(_.length).max)
    val rows = (0 until height).map(i =>
      Row.fromSeq(cols.map(vs => if (i < vs.length) vs(i) else null)))
    val schema = StructType(cols.indices.map(i =>
      StructField(s"c$i", StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("generated columns infer their ground-truth type (200 columns)") {
    val cases = sample(genAny, 200, seed = 0xC0FFEE)
    val df = pack(cases.map(_._2))
    val inferred = TypeInference.inferSchema(df).get
      .map(m => m.field -> m.proposedType).toMap
    cases.zipWithIndex.foreach { case ((want, vs), i) =>
      val got = inferred(s"c$i")
      assert(got == want,
        s"c$i: expected $want got $got for values ${vs.take(6)}...")
    }
  }

  test("appending rows only widens types along the lattice (120 pairs)") {
    // rank order: a type can only move to a >= rank as data is appended
    def rank(t: RedshiftType): Int = t match {
      case NoType => 0
      case Bool => 1
      case Int4 | Date => 2
      case Int8 | Timestamp => 3
      case Float8 => 4
      case Varchar256 => 5
      case Varchar65535 => 6
      case _ => 7
    }
    val as = sample(genEvidence, 120, seed = 0xBEEF)
    val bs = sample(genEvidence, 120, seed = 0xF00D)
    val dfA = pack(as.map(_._2))
    val dfAB = pack(as.zip(bs).map { case ((_, a), (_, b)) => a ++ b })
    val tA = TypeInference.inferSchema(dfA).get
      .map(m => m.field -> m.proposedType).toMap
    val tAB = TypeInference.inferSchema(dfAB).get
      .map(m => m.field -> m.proposedType).toMap
    as.indices.foreach { i =>
      assert(rank(tAB(s"c$i")) >= rank(tA(s"c$i")),
        s"c$i narrowed: ${tA(s"c$i")} -> ${tAB(s"c$i")} " +
          s"(A=${as(i)._2.take(4)} B=${bs(i)._2.take(4)})")
    }
  }

  test("sampled inference ⊑ full inference on the widening lattice (120 columns)") {
    def rank(t: RedshiftType): Int = t match {
      case NoType => 0
      case Bool => 1
      case Int4 | Date => 2
      case Int8 | Timestamp => 3
      case Float8 => 4
      case Varchar256 => 5
      case Varchar65535 => 6
      case _ => 7
    }
    val cases = sample(genEvidence, 120, seed = 0xD1CE)
    val df = pack(cases.map(_._2))
    // deterministic per-row id for the md5 slice (any subset satisfies
    // the one-sided property; determinism just makes the test stable)
    val withId = spark.createDataFrame(
      spark.sparkContext.parallelize(
        df.collect().zipWithIndex.map { case (r, i) =>
          Row.fromSeq(i.toLong +: r.toSeq)
        }.toSeq, 4),
      StructType(StructField("rid", org.apache.spark.sql.types.LongType,
        nullable = false) +: df.schema.fields.toIndexedSeq))
    val full = TypeInference.inferSchema(withId).get
      .map(m => m.field -> m.proposedType).toMap
    TypeInference.inferSchemaSampled(withId, "rid", 50) match {
      case None => // empty slice: vacuously ⊑
      case Some(ms) =>
        val sampled = ms.map(m => m.field -> m.proposedType).toMap
        cases.indices.foreach { i =>
          assert(rank(sampled(s"c$i")) <= rank(full(s"c$i")),
            s"c$i: sampled ${sampled(s"c$i")} ⋢ full ${full(s"c$i")} " +
              s"(values ${cases(i)._2.take(5)})")
        }
    }
  }

  test("profile merge is equivalent to profiling the concatenation") {
    // the last pair is fixed: an all-'NaN' side is numeric-castable but
    // contributes no integral rows, so it must not poison the merged
    // integral AND (float8 alone, int4 once integers arrive)
    val as = sample(genAny, 60, seed = 0xABCD) :+ (Float8, List("NaN"))
    val bs = sample(genAny, 60, seed = 0xDCBA) :+ (Int4, List("1", "2"))
    val pA = ColumnProfiler.profile(pack(as.map(_._2)))
    val pB = ColumnProfiler.profile(pack(bs.map(_._2)))
    val pAB = ColumnProfiler.profile(
      pack(as.zip(bs).map { case ((_, a), (_, b)) => a ++ b }))
    val merged = pA.zip(pB).map { case (a, b) => a.merge(b) }
    merged.zip(pAB).foreach { case (m, direct) =>
      assert(TypeInference.decide(m) == TypeInference.decide(direct),
        s"${m.field}: merged ${TypeInference.decide(m)} != " +
          s"direct ${TypeInference.decide(direct)}")
    }
    assert(TypeInference.decide(pA.last) == Float8)
    assert(TypeInference.decide(merged.last) == Int4)
  }
}
