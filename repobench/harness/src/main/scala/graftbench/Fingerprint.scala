package graftbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a collected result: the row count plus
  * the wrapping sum of a 64-bit digest of each canonicalised row, and a
  * digest of the sorted column names. Columns are taken in name order, so
  * a reordered projection still matches. Floating-point cells are rounded
  * to 6 significant digits (magnitudes under 1e-9 read as 0), which
  * absorbs summation-order noise between runs; decimals compare exactly
  * up to trailing zeros. */
object Fingerprint {
  final case class Print(rows: Long, hash: String)

  private val Digits = new MathContext(6)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new JBigDecimal(d).round(Digits).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def digest64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def of(schema: StructType, rows: Array[Row]): Print = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = digest64(schema.fieldNames.sorted.mkString("\u0001"))
    rows.foreach { r =>
      sum += digest64(order.map(i => canon(r.get(i))).mkString("\u0001"))
    }
    Print(rows.length.toLong, java.lang.Long.toHexString(sum))
  }
}
