package graft.ops

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.unsafe.types.UTF8String

/** The driver twin of a per-query `row_number()` window ordered by a
  * double score descending, then a tie key ascending: the first k of a
  * driver-sized candidate list, in exactly the order Spark's sort gives.
  * Doubles compare by [[SQLOrderingUtil.compareDoubles]] (NaN greatest,
  * -0.0 equal to 0.0 — neither `<` nor `Ordering.Double` agree), strings
  * by [[utf8]]. The serving entries rank their collected candidates with
  * it; the batch queries keep their windows, and specs pin the two
  * equal on ties. */
private[graft] object DriverTopK {
  /** Spark's string order: unsigned UTF-8 bytes. `String.compareTo`
    * compares UTF-16 units, which puts a supplementary-plane character
    * before a high-BMP one where UTF-8 puts it after. */
  val utf8: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  }

  def apply[A, T](rows: Iterable[A], k: Int)(score: A => Double, tie: A => T)
      (implicit order: Ordering[T]): Seq[A] =
    rows.toSeq.sortWith { (x, y) =>
      val o = SQLOrderingUtil.compareDoubles(score(x), score(y))
      o > 0 || o == 0 && order.lt(tie(x), tie(y))
    }.take(k)

  /** [[apply]] within each query: (row, rank from 1) pairs, ordered by
    * query id, then rank. */
  def perQuery[A, T](rows: Iterable[A], k: Int)(query: A => Long, score: A => Double,
      tie: A => T)(implicit order: Ordering[T]): Seq[(A, Long)] =
    rows.groupBy(query).toSeq.sortBy(_._1).flatMap { case (_, group) =>
      apply(group, k)(score, tie).zipWithIndex.map { case (a, i) => (a, i + 1L) }
    }
}
