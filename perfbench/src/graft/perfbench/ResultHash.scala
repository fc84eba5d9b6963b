package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a result: `<rows>:<hex sum>`, the
  * wrapping 64-bit sum of each row's MD5 prefix. A row is its cells in
  * column-name order, joined by U+001F, each cell in a canonical text
  * form that `oracle_check.py` reproduces from DuckDB values: NULL and
  * NaN as `<null>` (the repo's oracle compare treats them alike),
  * doubles as their IEEE-754 bit pattern, integers in decimal,
  * timestamps as ISO date-times with microseconds. Row
  * order is ignored, as in the oracle compare. */
object ResultHash {

  def of(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val (rows, sum) = df.rdd.mapPartitions { it =>
      val md5 = MessageDigest.getInstance("MD5")
      var n, s = 0L
      it.foreach { r =>
        n += 1
        s += rowHash(md5, r, order)
      }
      Iterator((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    f"$rows:$sum%016x"
  }

  def rowHash(md5: MessageDigest, r: Row, order: Array[Int]): Long = {
    val text = order.map(i => cell(r.get(i))).mkString("\u001f")
    val d = md5.digest(text.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def cell(v: Any): String = v match {
    case null => "<null>"
    case d: Double => if (d.isNaN) "<null>" else f"d${java.lang.Double.doubleToRawLongBits(d)}%016x"
    case f: Float => cell(f.toDouble)
    case b: Boolean => if (b) "true" else "false"
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => cell(t.toLocalDateTime)
    case t: java.time.LocalDateTime =>
      f"${t.toLocalDate}T${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d"
    case other => other.toString
  }
}
