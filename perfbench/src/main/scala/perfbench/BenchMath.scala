package perfbench

import org.apache.spark.sql.Row

/** The benchmark's arithmetic, free of Spark sessions so it can be
  * unit-tested on its own: percentiles and the tail-sample rule,
  * charging a chunk's latency to the commit that covers it, the
  * open-loop send schedule, and the canonical result digest.
  */
object BenchMath {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. `p` is in (0, 100].
    */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = values.sorted
    sorted((math.ceil(p / 100.0 * sorted.size).toInt max 1) - 1)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** The highest whole percentile that leaves at least `beyond`
    * samples above its nearest rank, or None when `n` samples cannot
    * support any. With n = 100 and beyond = 10 this is 90.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    val p = if (n <= beyond) 0 else (100L * (n - beyond) / n).toInt
    if (p >= 1) Some(p) else None
  }

  /** How many distinct groups (micro-batches) hold a sample strictly
    * above the `p`-th percentile. Chunk latencies within one batch are
    * not independent, so a tail is only as well supported as the
    * number of batches in it.
    */
  def groupsBeyond(samples: Seq[(Double, Long)], p: Double): Int = {
    val cut = percentile(samples.map(_._1), p)
    samples.collect { case (v, g) if v > cut => g }.distinct.size
  }

  /** One committed micro-batch as a progress event reports it. The
    * source's end offset is inclusive: chunk `k` (the k-th addData,
    * offset k) is in every batch whose end offset is at least k.
    */
  final case class Commit(batchId: Long, endOffset: Long, atNs: Long)

  /** For each chunk (index = its source offset), the latency from its
    * due time to the first commit, in commit order, whose end offset
    * covers it, with that commit's batch id. None for a chunk no
    * commit covers.
    */
  def chargeLatencies(dueNs: IndexedSeq[Long],
      commits: Seq[Commit]): IndexedSeq[Option[(Long, Long)]] = {
    val ordered = commits.sortBy(_.atNs)
    var j = 0
    dueNs.indices.map { k =>
      while (j < ordered.size && ordered(j).endOffset < k) j += 1
      if (j == ordered.size) None
      else Some((ordered(j).atNs - dueNs(k), ordered(j).batchId))
    }
  }

  /** An open-loop send schedule: send `k` is due at start + k·period,
    * whatever happened to earlier sends. A send that blocks past later
    * due times delays only those sends; they then go out back to back
    * until the loop is on its grid again, and each is charged from
    * its due time, never from when the loop got to it.
    */
  final class OpenLoop(startNs: Long, periodNs: Long) {
    def due(k: Int): Long = startNs + k * periodNs

    /** Runs `n` sends and returns how late each one went out (ns).
      * `now` and `sleepUntil` are the clock, injected for tests.
      */
    def run(n: Int, now: () => Long, sleepUntil: Long => Unit)(
        send: Int => Unit): Array[Long] = {
      val late = new Array[Long](n)
      var k = 0
      while (k < n) {
        val d = due(k)
        if (now() < d) sleepUntil(d)
        late(k) = (now() - d) max 0L
        send(k)
        k += 1
      }
      late
    }
  }

  /** Canonical text of one value, the same rules as the repository's
    * golden digests and its DuckDB parity compare: floats at nine
    * significant digits, bytes as hex, an explicit NULL, nested
    * values recursively, map entries sorted.
    */
  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float =>
      if (f.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(f.toDouble))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[_] => a.map(norm).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${norm(k)}:${norm(x)}" }.toSeq.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  /** Normalized row lines, sorted: a multiset of rows as a sequence
    * that two result sets share exactly when they hold the same rows.
    * `rows` are in the order of `columns`.
    */
  def canonicalLines(columns: Seq[String], rows: Iterable[Seq[Any]]): Seq[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    // \u0001 keeps adjacent values from colliding across columns
    rows.iterator.map(r => order.map(i => norm(r(i))).mkString("\u0001"))
      .toVector.sorted
  }

  /** sha-256 over the sorted column names and the canonical lines:
    * independent of column order, row order and partitioning.
    */
  def digest(columns: Seq[String], rows: Iterable[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update((columns.sorted.mkString("\u0001") + "\n").getBytes("UTF-8"))
    canonicalLines(columns, rows).foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
