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
}
