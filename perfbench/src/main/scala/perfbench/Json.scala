package perfbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Minimal JSON writing: the benchmark's records and the canonical form of
  * result rows that the checker reads back. */
object Json {

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  private def stamp(t: LocalDateTime): String = {
    val base = f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    if (t.getNano == 0) base else base + f".${t.getNano / 1000}%06d"
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) quote(d.toString) else java.lang.Double.toString(d)

  /** One value in the form the checker canonicalises: dates as ISO text,
    * timestamps as `yyyy-mm-dd hh:mm:ss[.ffffff]`, structs as arrays. */
  def value(v: Any): String = v match {
    case null                        => "null"
    case s: String                   => quote(s)
    case b: Boolean                  => b.toString
    case i: Int                      => i.toString
    case l: Long                     => l.toString
    case s: Short                    => s.toString
    case b: Byte                     => b.toString
    case d: Double                   => num(d)
    case f: Float                    => num(f.toDouble)
    case d: java.math.BigDecimal     => d.toPlainString
    case d: scala.math.BigDecimal    => d.bigDecimal.toPlainString
    case d: java.sql.Date            => quote(d.toLocalDate.toString)
    case d: LocalDate                => quote(d.toString)
    case t: java.sql.Timestamp       => quote(stamp(t.toLocalDateTime))
    case t: Instant                  => quote(stamp(LocalDateTime.ofInstant(t, ZoneOffset.UTC)))
    case t: LocalDateTime            => quote(stamp(t))
    case r: Row                      => r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (String.valueOf(k), x) }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + value(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]  => s.map(value).mkString("[", ",", "]")
    case a: Array[Byte]              => quote(a.map(b => f"$b%02x").mkString)
    case a: Array[_]                 => a.map(value).mkString("[", ",", "]")
    case other                       => quote(other.toString)
  }

  /** A JSON object from ordered fields whose values are already JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def d(x: Double): String = num(x)
}
