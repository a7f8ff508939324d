package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the run record, plus the typed encoding of
  * result rows that the checker decodes. Doubles in results travel as
  * their IEEE bits so the checker compares exactly what Spark returned.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot write ${other.getClass}")
  }

  /** A result value as the checker reads it: tagged where JSON alone
    * would lose the type.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: Double => s"""{"d":"${java.lang.Double.doubleToRawLongBits(d)}"}"""
    case f: Float => value(f.toDouble)
    case s: String => str(s)
    case d: java.math.BigDecimal => s"""{"dec":"${d.toPlainString}"}"""
    case t: java.sql.Timestamp =>
      val us = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
      s"""{"ts":$us}"""
    case t: java.time.LocalDateTime =>
      s"""{"ts":${t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000}}"""
    case d: java.sql.Date => s"""{"date":${d.toLocalDate.toEpochDay}}"""
    case r: Row => s"""{"row":${row(r)}}"""
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot encode ${other.getClass}")
  }

  def row(r: Row): String = {
    val names = r.schema.fieldNames
    names.indices.map(i => str(names(i)) + ":" + value(r.get(i))).mkString("{", ",", "}")
  }
}
