package perfbench

import java.io.File
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** The batch workload: a fixed list of QueryDefs, each built with
  * `SparkEntry.queries(name)(spark, dir)` (construction) and then run
  * through the `noop` sink (execution), over the sf0.1 tables.
  */
object BatchBench {

  /** A construction-bound dedup query (most of its jobs run while the
    * DataFrame is built) and two PartitionedPrefix sites (nearly all
    * their time is execution). Their times are far apart, so the
    * percentiles over the three queries' medians each stay on one query.
    */
  val queries: Seq[String] = Seq(
    "q71_multi_signal_components", "q79_curriculum_bins", "q128_hist_bin_sweep")

  /** "q71_multi_signal_components" → "q71", the per-query metric prefix. */
  def shortName(q: String): String = q.takeWhile(_ != '_')

  def digestFile(data: File): File = new File(data.getParentFile, s"digests-${data.getName}.properties")

  def loadPins(f: File): Map[String, (String, Long)] = {
    if (!f.exists()) return Map.empty
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(f)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap.map { case (k, v) =>
      val Array(d, n) = v.trim.split("\\s+"); k -> (d, n.toLong)
    }
  }

  private final case class Timing(q: String, pass: Int, constructNs: Long,
      execNs: Long, t0Ms: Long, t1Ms: Long, t2Ms: Long)

  def run(spark: SparkSession, o: Opts): Outcome = {
    val dir = o.data.getPath
    def noop(q: String): Unit =
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    val queries = new Random(o.seed).shuffle(BatchBench.queries)
    val pins = loadPins(digestFile(o.data))
    var failed = 0L
    var attempted = 0L
    val notes = Seq.newBuilder[String]

    // Untimed warm-up and verification pass: every query's output
    // digest and row count against the pins.
    val found = Seq.newBuilder[(String, String, Long)]
    for (q <- queries) {
      attempted += 1
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        val rows = df.collect()
        val d = BenchMath.digest(df.columns.toSeq, rows.map(_.toSeq))
        found += ((q, d, rows.length.toLong))
        if (!o.pin && !pins.get(q).contains((d, rows.length.toLong))) {
          failed += 1
          notes += s"$q: digest $d rows ${rows.length}, pinned ${pins.get(q)}"
        }
      } catch {
        case e: Exception =>
          failed += 1; notes += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally spark.catalog.clearCache()
    }
    o.phase("verified")
    if (o.pin) {
      val lines = found.result().sortBy(_._1).map { case (q, d, n) => s"$q=$d $n" }
      Harness.writeFile(digestFile(o.data), lines.mkString(
        "# sha-256 of each query's sorted canonical rows, then its row count\n", "\n", "\n"))
    }
    // One more untimed pass, as the timed ones run: the JIT is still
    // compiling the query paths after the first.
    for (q <- queries) {
      attempted += 1
      try noop(q) catch {
        case e: Exception =>
          failed += 1; notes += s"$q warm-up: ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally spark.catalog.clearCache()
    }
    o.phase("warmed")

    val jobLog = if (o.trace) Some(new JobLog) else None
    jobLog.foreach(spark.sparkContext.addSparkListener)
    val heap = new HeapMonitor
    val setupS = o.sinceStart
    heap.arm()

    // Timed passes over the (seed-permuted) list until the window is
    // used up; at least two whole passes.
    val timings = Seq.newBuilder[Timing]
    val passNs = Seq.newBuilder[Double]
    val windowEnd = System.nanoTime() + o.seconds * 1000000000L
    var pass = 0
    while (pass < 2 || System.nanoTime() < windowEnd) {
      val p0 = System.nanoTime()
      for (q <- queries) {
        attempted += 1
        try {
          val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, dir)
          val t1Ms = System.currentTimeMillis(); val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          timings += Timing(q, pass, t1 - t0, t2 - t1, t0Ms, t1Ms, System.currentTimeMillis())
          System.err.println(f"[perfbench] pass $pass $q construct ${(t1 - t0) / 1e9}%.3f s execute ${(t2 - t1) / 1e9}%.3f s")
        } catch {
          case e: Exception =>
            failed += 1; notes += s"$q pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        } finally spark.catalog.clearCache()
      }
      passNs += (System.nanoTime() - p0).toDouble
      pass += 1
    }
    o.phase("timed passes done")
    val heapMb = heap.finish()
    val ts = timings.result()
    val passes = passNs.result()
    // A query's latency is its median over the passes; the percentiles
    // are over the queries.
    val latMs = ts.groupBy(_.q).values.map(r => BenchMath.median(r.map(t => (t.constructNs + t.execNs) / 1e6))).toSeq
    val batchS = BenchMath.median(passes) / 1e9

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ops_per_s", queries.size / batchS, "1/s"),
      Metric("latency_p50_ms", BenchMath.percentile(latMs, 50), "ms"),
      Metric("latency_p90_ms", BenchMath.percentile(latMs, 90), "ms"),
      Metric("heap_live_peak_mb", heapMb, "MB"))

    val layer = jobLog.toSeq.flatMap { log =>
      BenchBridge.drainListeners(spark.sparkContext)
      operatorMetrics(log, ts, passes.size, batchS, o)
    }
    Outcome(failed == 0, attempted, failed, e2e ++ layer, notes.result())
  }

  /** Per-workload operator totals and per-query construct/execute
    * split, as medians over the timed passes; job counters are per
    * pass (every pass runs the same plans).
    */
  private def operatorMetrics(log: JobLog, ts: Seq[Timing], passes: Int,
      batchS: Double, o: Opts): Seq[Metric] = {
    val spans = new Spans
    val perQuery = ts.groupBy(_.q).toSeq.sortBy(_._1)
    var constructJobs = 0; var allJobs = Seq.empty[JobLog#Job]
    for ((q, runs) <- perQuery; t <- runs) {
      val constructJs = log.startedIn(t.t0Ms, t.t1Ms)
      val execJs = log.startedIn(t.t1Ms, t.t2Ms + 1)
      constructJobs += constructJs.size
      allJobs ++= constructJs ++ execJs
      val root = spans.add(-1, "operators", q, t.t0Ms * 1000000L, t.t2Ms * 1000000L,
        Map("pass" -> t.pass.toDouble))
      val c = spans.add(root, "operators", "construct", t.t0Ms * 1000000L, t.t1Ms * 1000000L)
      val e = spans.add(root, "operators", "execute", t.t1Ms * 1000000L, t.t2Ms * 1000000L)
      for ((parent, js) <- Seq(c -> constructJs, e -> execJs); j <- js)
        spans.add(parent, "spark.job", s"job ${j.id}", j.startMs * 1000000L,
          (if (j.endMs < 0) j.startMs else j.endMs) * 1000000L,
          Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
            "cpu_s" -> j.cpuNs / 1e9))
    }
    val n = passes.toDouble
    val totals = JobLog.totals("operators", allJobs).map(m => m.copy(value = m.value / n)) :+
      Metric("operators.passes", n, "count")
    val cpuS = allJobs.map(_.cpuNs).sum / 1e9 / n
    val perQ = perQuery.flatMap { case (q, runs) =>
      val s = shortName(q)
      val jobs = runs.map(t => log.startedIn(t.t0Ms, t.t2Ms + 1).size.toDouble)
      Seq(Metric(s"$s.construct_s", BenchMath.median(runs.map(_.constructNs / 1e9)), "s"),
        Metric(s"$s.exec_s", BenchMath.median(runs.map(_.execNs / 1e9)), "s"),
        Metric(s"$s.jobs", BenchMath.median(jobs), "count"))
    }
    val sums = Seq(
      Metric("operators.construct_s", ts.map(_.constructNs).sum / 1e9 / n, "s"),
      Metric("operators.exec_s", ts.map(_.execNs).sum / 1e9 / n, "s"),
      Metric("operators.construct_jobs", constructJobs / n, "count"),
      Metric("operators.shuffle_read_mb", allJobs.map(_.shuffleRead).sum / 1e6 / n, "MB"),
      Metric("operators.shuffle_write_mb", allJobs.map(_.shuffleWrite).sum / 1e6 / n, "MB"),
      Metric("operators.spill_mb", allJobs.map(_.spill).sum / 1e6 / n, "MB"),
      Metric("operators.core_util", cpuS / (batchS * Harness.Cores), "ratio"))
    val metrics = totals ++ sums ++ perQ
    Trace.write(spans, o, metrics)
    metrics
  }
}
