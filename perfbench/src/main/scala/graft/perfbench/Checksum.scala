package graft.perfbench

import java.math.{MathContext, RoundingMode}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent result checksum: row count plus the sum of per-row
  * 64-bit hashes of a canonical rendering in which floating-point values
  * are rounded to [[Checksum.SignificantDigits]] significant digits, so
  * the last-bit noise of accumulation order does not change the sum.
  */
object Checksum {
  val SignificantDigits = 9
  private val mc = new MathContext(SignificantDigits, RoundingMode.HALF_EVEN)

  def roundDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => roundDouble(d)
    case f: Float => roundDouble(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toString
    case b: BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case t: java.time.Instant => s"ts${t.getEpochSecond}.${t.getNano}"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1234).toLong & 0xffffffffL)
  }

  /** (row count, order-independent hash) of a collected result. */
  def of(rows: Iterable[Row]): (Long, String) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    (n, java.lang.Long.toHexString(sum))
  }
}
