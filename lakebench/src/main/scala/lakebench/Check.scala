package lakebench

import java.util.SplittableRandom

import org.apache.spark.sql.Row

/** Zipf-skewed key sampler over `0 until n` (rank 0 most frequent), drawn
  * from the caller's single-threaded `SplittableRandom`. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Exact, row-order-independent comparison of a result with the model.
  *
  * Rows are compared as canonical strings: longs and ints by value,
  * decimals by exact value (`compareTo`, so 1.50 equals 1.5), strings as
  * they are, nulls as `null`. The result is compared as a multiset: a
  * missing, extra, duplicated or changed row is a mismatch. */
object Check {
  type Rows = Seq[Seq[String]]

  def cell(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => cell(d.bigDecimal)
    case x => x.toString
  }
  def rows(rs: Seq[Row]): Rows = rs.map(r => (0 until r.length).map(i => cell(r.get(i))))

  /** None when equal as multisets, else the first difference. */
  def diff(expected: Rows, actual: Rows): Option[String] = {
    val ord = Ordering.Implicits.seqOrdering[Seq, String]
    val e = expected.sorted(ord)
    val a = actual.sorted(ord)
    if (e == a) None
    else if (e.size != a.size) Some(s"rows expected=${e.size} actual=${a.size}; " +
      s"first missing=${e.diff(a).headOption.map(_.mkString("|"))} " +
      s"first extra=${a.diff(e).headOption.map(_.mkString("|"))}")
    else {
      val i = e.indices.find(j => e(j) != a(j)).get
      Some(s"row $i expected=${e(i).mkString("|")} actual=${a(i).mkString("|")}")
    }
  }

  /** The checker's own test on this run's output: dropping one row and
    * changing one value must each be rejected. Returns the corruptions the
    * check failed to reject (empty = the check is sound on this output). */
  def selfTest(name: String, expected: Rows, actual: Rows): Seq[String] =
    if (actual.isEmpty) Seq(s"$name: no output rows to corrupt")
    else {
      val dropped = actual.tail
      val changed = actual.updated(0, actual.head.updated(actual.head.size - 1,
        actual.head.last + "1"))
      Seq("drop one row" -> dropped, "change one value" -> changed).collect {
        case (what, bad) if diff(expected, bad).isEmpty => s"$name: $what not rejected"
      }
    }
}
