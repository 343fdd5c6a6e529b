package graftbench

import scala.util.hashing.MurmurHash3

/** Result fingerprint: row count plus an order-insensitive 64-bit hash
  * of the rows, with every floating value rounded to 4 decimal places
  * (the oracle-parity rule the engine's gates use). Rows hash through
  * a canonical string, so the in-process `Row` path and the JDBC path
  * agree when they carry the same values. */
object Fingerprint {
  def round4(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP).stripTrailingZeros
      if (r.signum == 0) "0" else r.toPlainString
    }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => round4(d)
    case f: Float => round4(f.toDouble)
    case b: java.math.BigDecimal => round4(b.doubleValue)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toString.stripSuffix(".0")
    case other => other.toString
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Fingerprint of rows already reduced to canonical cell strings. */
  def ofCells(rows: Iterable[Seq[String]]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(r.mkString("\u0001")) }
    f"$n:$sum%016x"
  }

  def ofRows(rows: Iterable[org.apache.spark.sql.Row]): String =
    ofCells(rows.map(_.toSeq.map(canon)))
}
