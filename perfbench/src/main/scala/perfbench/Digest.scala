package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: the row count plus the
  * sum (mod 2^64) of a 64-bit hash of each row's canonical text. Columns
  * are taken in name order; floating-point values are rounded to 9
  * significant digits so a different summation order between runs does
  * not change the digest; array elements are sorted. */
object Digest {

  def of(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var acc = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("|")
      acc += hash64(text)
    }
    (rows.size.toLong, f"$acc%016x")
  }

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: java.math.BigDecimal => real(b.doubleValue)
    case b: scala.math.BigDecimal => real(b.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(new MathContext(9)).stripTrailingZeros.toString

  /** First 8 bytes of SHA-256, as a long. */
  def hash64(s: String): Long = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }
}
