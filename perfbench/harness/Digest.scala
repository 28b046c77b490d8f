package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Value-based digest of a result: the same values give the same digest
  * whatever physical type carries them (DECIMAL(19,4) 1.1000, DOUBLE 1.1
  * and FLOAT 1.1f all read "1.1"), so a plan change that swaps a column's
  * physical type but keeps its values does not read as a wrong answer.
  *
  * Fractional numbers are compared to 9 significant digits, which absorbs
  * floating-point summation order across partitionings; whole numbers
  * (ids, hashes, counts) are exact. Columns are taken in name order and
  * rows in result order (every gate has a total ORDER BY).
  */
object Digest {

  private val Sig = new MathContext(9)

  private def number(bd: JBigDecimal): String = {
    val s = bd.stripTrailingZeros
    if (s.scale <= 0) s.toBigInteger.toString
    else {
      val r = s.round(Sig).stripTrailingZeros
      if (r.scale <= 0) r.toBigInteger.toString else r.toPlainString
    }
  }

  private def floating(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else number(new JBigDecimal(d))

  def value(v: Any): String = v match {
    case null => "∅"
    case s: String => s"s${s.length}:$s"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case f: Float => floating(java.lang.Float.toString(f).toDouble)
    case d: Double => floating(d)
    case bd: JBigDecimal => number(bd)
    case bd: scala.math.BigDecimal => number(bd.bigDecimal)
    case bytes: Array[Byte] => bytes.map(b => f"${b & 0xff}%02x").mkString("x", "", "")
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString // dates, timestamps: ISO text
  }

  def row(r: Row): String =
    if (r.schema == null) r.toSeq.map(value).mkString("(", ",", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + value(r.get(i)) }
      .mkString("(", "\u0001", ")")

  /** `<sha256 hex of the ordered rows>/<row count>`. */
  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(row(r).getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString + "/" + rows.length
  }
}
