package graftbench

import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Order-free digest of a query result, computed identically by
  * `oracle.py` over DuckDB's rows: columns sorted by name, every value
  * encoded by kind (integers exactly, floating point and decimals as
  * the bits of the double, timestamps as UTC microseconds), rows sorted,
  * then SHA-256. */
object Canonical {

  def digest(columns: Array[String], rows: Array[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => enc(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def float(d: Double): String =
    if (d.isNaN) "fnan" else "f" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def enc(v: Any): String = v match {
    case null => "~"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case x: scala.math.BigDecimal => float(x.toDouble)
    case s: String => s"s${s.length}:$s"
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: Instant => "t" + micros(t)
    case t: LocalDateTime => "t" + micros(t.toInstant(ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(enc).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => enc(k) + "=" + enc(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(enc).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical encoding for ${other.getClass.getName}")
  }
}
