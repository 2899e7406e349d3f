package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("queries and oracleSql name the same queries in the same order") {
    assert(SparkEntry.queries.keys.toSeq == SparkEntry.oracleSql.keys.toSeq)
  }

  test("names are shaped q<n>_<snake>, each <n> used once") {
    val shape = "q([0-9]+)_[a-z0-9]+(?:_[a-z0-9]+)*".r
    val names = SparkEntry.queries.keys.toSeq
    val numbers = names.map {
      case shape(n) => n.toInt
      case bad => fail(s"badly shaped query name: $bad")
    }
    assert(numbers.distinct == numbers,
      s"numbers used twice: ${numbers.diff(numbers.distinct)}")
  }

  test("a name declared twice fails instead of collapsing in the map") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq("q1_a" -> 1, "q2_b" -> 2, "q1_a" -> 3)))
    assert(e.getMessage.contains("q1_a"), e.getMessage)
    assert(SparkEntry.byName(Seq("q2_b" -> 2, "q1_a" -> 1)).keys.toSeq ==
      Seq("q2_b", "q1_a"), "insertion order")
  }

  test("every oracle builds to non-empty SQL") {
    for ((name, sql) <- SparkEntry.oracleSql)
      assert(sql != null && sql.trim.nonEmpty, s"$name: empty oracle")
  }
}
