package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-sensitive digest of a query result, canonical across engines: the
  * comparison rule of the program's DuckDB gate (columns sorted by name,
  * rows compared in order, values exact, integer vs floating kinds kept
  * apart) folded into one hash. run.py computes the same digest over
  * DuckDB's result for the same SQL oracle. Cells render as `N` (null),
  * `i:<integer>`, `f:<IEEE-754 bits, -0.0 as 0.0, NaN as nan>`, `b:<bool>`
  * or `s:<string>`. */
object Digest {
  def cell(v: Any): String = v match {
    case null => "N"
    case x: Long => s"i:$x"
    case x: Int => s"i:$x"
    case x: Short => s"i:$x"
    case x: Byte => s"i:$x"
    case x: Double => float(x)
    case x: Float => float(x.toDouble)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case x: Boolean => s"b:$x"
    case x: String => s"s:$x"
    case x => s"o:$x"
  }

  private def float(x: Double): String =
    if (x.isNaN) "f:nan"
    else s"f:${java.lang.Double.doubleToRawLongBits(if (x == 0.0) 0.0 else x)}"

  def apply(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u0001").getBytes("UTF-8"))
    rows.foreach { r =>
      md.update("\n".getBytes("UTF-8"))
      md.update(order.map(i => cell(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
