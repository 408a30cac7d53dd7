package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query result.
  *
  * Each row becomes a canonical string: columns sorted by name, each value
  * rendered type-aware (doubles to 12 significant digits with -0.0 folded
  * into 0, timestamps as epoch microseconds, decimals without trailing
  * zeros, strings quoted so NULL and "null" differ, arrays/structs/maps
  * recursively). The result hash is the sum mod 2^64 of every row
  * string's first eight SHA-256 bytes, so row order does not matter but
  * duplicate rows do. */
object Canon {

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: java.math.BigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case t: java.sql.Timestamp =>
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
      s"ts:$micros"
    case i: java.time.Instant => s"ts:${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case d: java.sql.Date => s"date:$d"
    case d: java.time.LocalDate => s"date:$d"
    case t: java.time.LocalDateTime => s"ntz:$t"
    case bytes: Array[Byte] => bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.12g", java.lang.Double.valueOf(d))

  private def decimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  /** Fields sorted by name (struct fields too). */
  def row(r: Row): String = {
    val names = Option(r.schema).map(_.fieldNames.toSeq)
      .getOrElse(r.toSeq.indices.map(_.toString))
    names.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + value(r.get(i)) }
      .mkString("(", ",", ")")
  }

  def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** (row count, hex hash) of a result. */
  def digest(rows: Iterable[Row]): (Long, String) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(row(r)) }
    (n, f"$sum%016x")
  }

  /** Same hash over plain strings: the login sets of the dimensions. */
  def digestStrings(xs: Iterable[String]): (Long, String) = {
    var n = 0L
    var sum = 0L
    xs.foreach { s => n += 1; sum += hash64(s) }
    (n, f"$sum%016x")
  }
}
