package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val cols = Seq("id", "name", "score")
  private val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.25), Row(3L, null, -3.0))

  test("row order does not change the fingerprint") {
    assert(Fingerprint.of(cols, rows) == Fingerprint.of(cols, rows.reverse))
  }

  test("column order does not change the fingerprint") {
    val swapped = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(Fingerprint.of(Seq("score", "id", "name"), swapped) == Fingerprint.of(cols, rows))
  }

  test("one changed value changes the fingerprint") {
    val base = Fingerprint.of(cols, rows)
    assert(Fingerprint.of(cols, rows.updated(1, Row(2L, "b", 1.5))) != base)
    assert(Fingerprint.of(cols, rows.updated(0, Row(1L, "A", 0.5))) != base)
    assert(Fingerprint.of(cols, rows.updated(2, Row(3L, "", -3.0))) != base)
  }

  test("a duplicated or dropped row changes the fingerprint") {
    val base = Fingerprint.of(cols, rows)
    assert(Fingerprint.of(cols, rows :+ rows.head) != base)
    assert(Fingerprint.of(cols, rows.tail).rows == 2)
  }

  test("summation-order noise below six significant digits is tolerated") {
    val a = Seq(Row(0.1 + 0.2)) // 0.30000000000000004
    val b = Seq(Row(0.3))
    assert(Fingerprint.of(Seq("x"), a) == Fingerprint.of(Seq("x"), b))
  }

  // The same vectors are checked against the DuckDB side in test_perfbench.py.
  test("canonical values match the oracle's canonicalization") {
    assert(Fingerprint.canon(null) == "\\N")
    assert(Fingerprint.canon(true) == "true")
    assert(Fingerprint.canon(42) == "42")
    assert(Fingerprint.canon(0.1) == "0.1")
    assert(Fingerprint.canon(1234567.891) == "1234570")
    assert(Fingerprint.canon(-0.0) == "0")
    assert(Fingerprint.canon(2.5e-7) == "0.00000025")
    assert(Fingerprint.canon(new java.math.BigDecimal("12.3400")) == "12.34")
    assert(Fingerprint.canon(new java.math.BigDecimal("5.000")) == "5")
    assert(Fingerprint.canon("héllo") == "5:héllo")
    assert(Fingerprint.canon(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 1)) == "t1704067201000000")
    assert(Fingerprint.canon(java.time.LocalDate.of(1970, 1, 11)) == "d10")
    assert(Fingerprint.canon(Seq(1, 2)) == "[1,2]")
    assert(Fingerprint.canon(Row(1, "x")) == "{1,1:x}")
    assert(Fingerprint.rowText(Seq("b", "a"), Row(1.5f, "z")) == "1:z|1.5")
  }

  test("a known row set has a stable fingerprint") {
    assert(Fingerprint.of(Seq("x"), Seq(Row(1L), Row(2L))).toString ==
      s"2:${Fingerprint.of(Seq("x"), Seq(Row(2L), Row(1L))).hash}")
    assert(Fingerprint.of(Seq("b", "a"), Seq(Row(1.5f, "z"))).hash ==
      f"${Fingerprint.rowDigest("1:z|1.5")}%016x")
  }
}
