package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive value hash of a result: row count plus the wrapping
  * sum of one 64-bit hash per row, over the columns sorted by name.
  * `oracle.py` computes the same hash over DuckDB's answer, so each cell
  * is rendered to the same text on both sides:
  *  - numbers by value: integral ones as integers, others by their IEEE
  *    double bits;
  *  - timestamps as epoch micros, dates as the micros of their midnight
  *    (one engine may answer a DATE where the other gives a TIMESTAMP);
  *  - arrays in order, structs by position, maps sorted by key.
  * The JVM runs with `user.timezone=UTC`, so `java.sql` dates and
  * timestamps render as the UTC values the session computed. */
object Canon {
  private val MaxExact = 9.007199254740992e15 // 2^53

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.floor(d) && math.abs(d) < MaxExact) d.toLong.toString
    else "D" + java.lang.Double.doubleToLongBits(d)

  def dec(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros
    if (s.scale <= 0) s.toBigInteger.toString else num(d.doubleValue)
  }

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => dec(x)
    case s: String => "S" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      "t" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "t" + d.toLocalDate.toEpochDay * 86400000000L
    case b: Array[Byte] => "B" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  /** 64-bit hash of one rendered row: the first 8 bytes of its MD5. */
  def rowHash(cells: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(cells.mkString("\u001f").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** (sorted column names, row count, unsigned hash sum as a string). */
  def of(schema: StructType, rows: Array[Row]): (Seq[String], Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    var sum = 0L
    rows.foreach(r => sum += rowHash(order.toSeq.map { case (_, i) => cell(r.get(i)) }))
    (order.map(_._1).toSeq, rows.length.toLong, java.lang.Long.toUnsignedString(sum))
  }
}
