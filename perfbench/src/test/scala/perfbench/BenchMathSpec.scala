package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import BenchMath._

/** The benchmark's arithmetic, without a Spark session. */
class BenchMathSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(percentile(xs, 50) === 50.0)
    assert(percentile(xs, 90) === 90.0)
    assert(percentile(xs, 100) === 100.0)
    assert(percentile(Seq(7.0), 90) === 7.0)
    assert(median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.0)
    intercept[IllegalArgumentException](percentile(Nil, 50))
  }

  test("the tail percentile leaves at least ten samples beyond it, and is the highest that does") {
    assert(supportedPercentile(100) === Some(90))
    assert(supportedPercentile(1000) === Some(99))
    assert(supportedPercentile(10) === None)
    assert(supportedPercentile(5) === None)
    for (n <- 11 to 600) {
      val xs = (1 to n).map(_.toDouble)
      def beyond(p: Int) = xs.count(_ > percentile(xs, p))
      val p = supportedPercentile(n).get
      assert(beyond(p) >= 10, s"n=$n p=$p")
      if (p < 100) assert(beyond(p + 1) < 10, s"n=$n p=${p + 1} would also do")
    }
  }

  test("a tail counts the distinct batches beyond it, not the samples") {
    // 20 chunk latencies from 4 batches; the top decile is one batch
    val samples = (0 until 20).map(i => ((i + 1).toDouble, (i / 5).toLong))
    assert(groupsBeyond(samples, 90) === 1)
    assert(groupsBeyond(samples, 50) === 2)
    assert(groupsBeyond(samples, 100) === 0)
  }

  test("a chunk's latency runs from its due time to the first commit covering its offset") {
    val due = IndexedSeq(0L, 40L, 80L, 120L, 160L)
    val commits = Seq(
      Commit(batchId = 2, endOffset = 4, atNs = 900L),
      Commit(batchId = 1, endOffset = 1, atNs = 500L))
    assert(chargeLatencies(due, commits) === IndexedSeq(
      Some((500L, 1L)), Some((460L, 1L)),
      Some((820L, 2L)), Some((780L, 2L)), Some((740L, 2L))))
    // a chunk no commit covers has no latency rather than a wrong one
    assert(chargeLatencies(due, Seq(Commit(0, 2, 300L))).drop(3) === IndexedSeq(None, None))
    assert(chargeLatencies(due, Nil).forall(_.isEmpty))
  }

  test("the open-loop schedule keeps its grid when the system stalls") {
    var clock = 0L
    val period = 40L
    val sentAt = scala.collection.mutable.ArrayBuffer.empty[Long]
    val loop = new OpenLoop(startNs = 1000L, periodNs = period)
    val late = loop.run(10, () => clock, d => clock = d) { k =>
      sentAt += clock
      if (k == 2) clock += 5 * period // the system blocks one send for 200 ns
    }
    assert((0 until 10).map(loop.due) === (0 until 10).map(k => 1000L + k * period))
    // the sends due during the stall go out late, back to back...
    assert(sentAt.take(3) === Seq(1000L, 1040L, 1080L))
    assert(sentAt.slice(3, 7) === Seq(1280L, 1280L, 1280L, 1280L))
    assert(late.slice(3, 7).toSeq === Seq(160L, 120L, 80L, 40L))
    // ...and the loop is back on its grid after it, not shifted by it
    assert(sentAt.drop(7) === Seq(1280L, 1320L, 1360L))
    assert(late.drop(7).forall(_ == 0L))
  }

  test("digests ignore row order and column order") {
    val rows = Seq(Seq[Any]("a", 1L, 2.5), Seq[Any]("b", 2L, 0.5))
    val d = digest(Seq("s", "n", "x"), rows)
    assert(digest(Seq("s", "n", "x"), rows.reverse) === d)
    assert(digest(Seq("x", "s", "n"), rows.map(r => Seq(r(2), r(0), r(1)))) === d)
    assert(digest(Seq("s", "n", "x"), rows :+ rows.head) !== d, "a multiset, not a set")
    assert(digest(Seq("s", "n", "y"), rows) !== d, "column names count")
  }

  test("digest normalization: floats at nine significant digits, NULL, bytes, nesting") {
    assert(norm(0.1 + 0.2) === norm(0.3))
    assert(norm(1.0f) === norm(1.0))
    assert(norm(1.0 / 3) === "0.333333333")
    assert(norm(Double.NaN) === "NaN")
    assert(norm(null) === "NULL")
    assert(norm(Array[Byte](0, 15, -1)) === "000fff")
    assert(norm(Seq(1, null)) === "[1,NULL]")
    assert(norm(Row("x", 2.0)) === "{x,2.00000000}")
    assert(norm(Map("b" -> 1, "a" -> 2)) === "{a:2,b:1}")
    assert(canonicalLines(Seq("b", "a"), Seq(Seq[Any](1, "z"))) === Seq("z\u00011"))
  }
}
