package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent result fingerprint: row count plus the sum (mod
  * 2^64) of a per-row SHA-256 prefix. Canonical row text follows
  * `tools/check_oracle.py`: columns sorted by name, doubles as Python's
  * `%.12g`, NaN as `NaN`, zero as `0`. `oracle.py` computes the same
  * fingerprint over DuckDB results; the two canonical forms must agree
  * value for value.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: String)

  private val Sep = '\u001f'
  private val Mc12 = new MathContext(12, RoundingMode.HALF_EVEN)

  /** Python's `'%.12g' % v` for finite non-zero doubles. */
  def g12(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v == 0.0) "0"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else {
      val bd = new JBigDecimal(v).round(Mc12)
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 12) {
        val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
        val ea = math.abs(exp)
        val sign = if (bd.signum < 0) "-" else ""
        s"${sign}${mant}e${if (exp < 0) "-" else "+"}${if (ea < 10) s"0$ea" else ea.toString}"
      } else bd.stripTrailingZeros.toPlainString
    }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => g12(d)
    case f: Float => g12(f.toDouble)
    case d: JBigDecimal => g12(d.doubleValue)
    case d: scala.math.BigDecimal => g12(d.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}:${canon(x)}" }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def rowHash(text: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def of(schema: StructType, rows: Array[Row]): Fp = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var acc = 0L
    rows.foreach { r =>
      val sb = new StringBuilder
      order.indices.foreach { j =>
        if (j > 0) sb += Sep
        sb ++= canon(r.get(order(j)))
      }
      acc += rowHash(sb.toString)
    }
    Fp(rows.length.toLong, f"$acc%016x")
  }
}
