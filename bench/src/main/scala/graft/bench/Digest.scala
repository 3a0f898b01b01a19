package graft.bench

import java.math.MathContext
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result: each row is rendered to a
  * canonical string, hashed to 64 bits, and the hashes are summed
  * modulo 2^64, so row order never matters and duplicates count.
  * Floating-point values are rounded to 9 significant digits first:
  * a parallel sum may differ in its last bits from run to run, and
  * that must not read as a wrong answer. */
object Digest {
  private val Sig = new MathContext(9)

  def canon(v: Any): String = v match {
    case null                 => "null"
    case d: Double            => canonDouble(d)
    case f: Float             => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case b: BigDecimal        => canonDouble(b.toDouble)
    case r: Row               => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte]       => a.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant  => t.toString
    case other                 => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toString

  def rowHash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes(StandardCharsets.UTF_8))).getLong
  }

  /** Digest of rows under the given column names. */
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    var acc = rowHash(columns.mkString("|"))
    rows.foreach(r => acc += rowHash(canon(r)))
    f"$acc%016x"
  }
}
