package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {

  test("doubles are rounded to the significant digits, so summation-order noise vanishes") {
    assert(0.1 + 0.2 != 0.3)
    assert(Checksum.canon(0.1 + 0.2) == Checksum.canon(0.3))
    assert(Checksum.canon(1234567.891234567) == "1234567.89")
    assert(Checksum.canon(1.0e-20 + 1.0e-36) == Checksum.canon(1.0e-20))
    assert(Checksum.canon(2.5f) == Checksum.canon(2.5))
  }

  test("differences within the kept digits still change the checksum") {
    assert(Checksum.canon(1.00000001) != Checksum.canon(1.00000002))
    assert(Checksum.of(Seq(Row(1L, 0.5))) != Checksum.of(Seq(Row(1L, 0.50001))))
  }

  test("zero, negative zero, NaN, infinities and null render distinctly and stably") {
    assert(Checksum.canon(-0.0) == Checksum.canon(0.0))
    assert(Checksum.canon(Double.NaN) == "NaN")
    assert(Checksum.canon(Double.PositiveInfinity) == "Inf")
    assert(Checksum.canon(Double.NegativeInfinity) == "-Inf")
    assert(Checksum.canon(null) == "null")
    assert(Checksum.canon(java.math.BigDecimal.ZERO) == "0")
  }

  test("the checksum is independent of row order but not of row multiplicity") {
    val rows = Seq(Row(1L, "a", 0.25), Row(2L, "b", Seq(1.0, 2.0)), Row(3L, null, Map("k" -> 1)))
    assert(Checksum.of(rows) == Checksum.of(rows.reverse))
    assert(Checksum.of(rows)._1 == 3L)
    assert(Checksum.of(rows :+ rows.head) != Checksum.of(rows))
  }

  test("array order counts, map order does not") {
    assert(Checksum.canon(Seq(1, 2)) != Checksum.canon(Seq(2, 1)))
    assert(Checksum.canon(Map("a" -> 1, "b" -> 2)) == Checksum.canon(Map("b" -> 2, "a" -> 1)))
  }
}
