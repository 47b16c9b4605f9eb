package graftbench

import java.security.MessageDigest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row

/** The run record's JSON writer: Spark's Jackson with its Scala module. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One op's checked output: column names and rows of canonical cells. */
final case class Result(cols: Seq[String], rows: Seq[Seq[String]]) {
  /** Order-insensitive digest: repeated calls must return the same rows. */
  lazy val digest: String = Canon.sha1(rows.map(_.mkString("\u0001")).sorted.mkString("\u0002"))
}

/** Canonical, type-tagged cell strings. The checker (perfbench/oracle.py)
  * renders DuckDB's values the same way, so a cell compares equal when
  * both engines return the same value of the same kind.
  */
object Canon {
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def cell(v: Any): String = v match {
    case null => "n"
    case b: Boolean => s"b:$b"
    case n @ (_: Byte | _: Short | _: Int | _: Long) => s"i:$n"
    case d: Double => s"f:$d"
    case f: Float => s"f:${f.toDouble}"
    case d: java.math.BigDecimal => s"d:${d.toPlainString}"
    case d: scala.math.BigDecimal => s"d:${d.bigDecimal.toPlainString}"
    case s: String => s"s:$s"
    case t: java.sql.Timestamp => s"t:${t.toLocalDateTime.format(tsFmt)}"
    case t: java.time.LocalDateTime => s"t:${t.format(tsFmt)}"
    case t: java.time.Instant => s"t:${java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt)}"
    case d: java.sql.Date => s"t:${d.toLocalDate.atStartOfDay.format(tsFmt)}"
    case d: java.time.LocalDate => s"t:${d.atStartOfDay.format(tsFmt)}"
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("a:[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("a:[", ",", "]")
    case other => s"s:$other"
  }

  def result(cols: Seq[String], rows: Array[Row]): Result =
    Result(cols, rows.toSeq.map(_.toSeq.map(cell)))

  def sha1(s: String): String = sha1(s.getBytes("UTF-8"))

  def sha1(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-1").digest(b).map("%02x".format(_)).mkString
}
