package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.ByteBuffer
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Order-independent result fingerprint: row count plus the sum (mod 2^64)
  * of a 64-bit digest of every row's canonical text.
  *
  * Columns are taken in name order so a projection reorder does not count
  * as a different answer. Floating values are rounded to six significant
  * digits, so a change in summation order does not flip the hash, while a
  * changed value does. `oracle.py` canonicalizes DuckDB results the same
  * way, so both engines' fingerprints are directly comparable.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  private val mc = new MathContext(6, RoundingMode.HALF_EVEN)

  private def fraction(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(mc).stripTrailingZeros.toPlainString

  private def decimal(d: JBigDecimal): String =
    if (d.signum == 0) "0"
    else if (d.stripTrailingZeros.scale <= 0) d.toBigInteger.toString
    else fraction(d)

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else fraction(new JBigDecimal(d))

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: BigInt => x.toString
    case x: java.math.BigInteger => x.toString
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case s: String => s"${s.length}:$s"
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case i: Instant => "t" + micros(i)
    case l: LocalDateTime => "t" + micros(l.toInstant(ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=>" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Canonical text of one row, columns in name order. */
  def rowText(columns: Seq[String], row: Row): String =
    columns.indices.sortBy(columns(_)).map(i => canon(row.get(i))).mkString("|")

  def rowDigest(text: String): Long =
    ByteBuffer.wrap(MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))).getLong

  def of(columns: Seq[String], rows: Iterable[Row]): Fingerprint = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowDigest(rowText(columns, r)) }
    Fingerprint(n, f"$sum%016x")
  }
}
