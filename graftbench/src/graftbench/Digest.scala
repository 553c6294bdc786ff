package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Row-order-insensitive result digest.
  *
  * Each row is rendered to a canonical string, the strings are sorted, and
  * the column names plus the sorted rows are hashed with SHA-256. Canonical
  * forms: floats are rounded to [[SigDigits]] significant digits so that
  * the last bits of a reordered floating-point sum do not matter, `-0.0`
  * reads as `0`, every NaN reads as `NaN`, and null is a token no value can
  * render to. Nested arrays, structs and maps are rendered recursively; map
  * entries are sorted by their rendered key.
  */
object Digest {

  val SigDigits = 9

  private val Null = "∅"

  def canonical(v: Any): String = v match {
    case null => Null
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canonical(b.bigDecimal)
    case s: String => Json.str(s)
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  def canonicalDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else {
      val r = new java.math.BigDecimal(d)
        .round(new java.math.MathContext(SigDigits, java.math.RoundingMode.HALF_EVEN))
      r.stripTrailingZeros.toString
    }

  def rowString(r: Row): String = r.toSeq.map(canonical).mkString("|")

  /** Digest of a collected result: (row count, hex SHA-256). */
  def of(schema: StructType, rows: Seq[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.mkString(",").getBytes(UTF_8))
    rows.iterator.map(rowString).toArray.sorted.foreach { s =>
      md.update("\n".getBytes(UTF_8))
      md.update(s.getBytes(UTF_8))
    }
    (rows.size.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
