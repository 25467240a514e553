package graft.bench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Order-insensitive digest of a collected result: floats rounded to 6
  * decimals, each row rendered field by field, rows sorted, SHA-256.
  * The Python side (`benchstats.table_key`) applies the same rounding
  * when it compares a dumped result with the DuckDB oracle.
  */
object Digest {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "nan" else BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.stripTrailingZeros
        .toPlainString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val lines = rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
