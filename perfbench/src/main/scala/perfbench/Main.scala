package perfbench

import java.io.File

/** Benchmark JVM entry point; run.py builds the command line.
  *
  *   --workload stream_live|batch_dedup
  *   --seed N --seconds S --trace 0|1
  *   --work DIR   scratch for this run (sinks, checkpoints, spark-local)
  *   --data DIR   the sf0.1 tables of batch_dedup
  *   --t0-ms MS   epoch ms the process was launched, for setup_s
  *   --pin        batch only: rewrite the digest pins from this run
  *
  * Prints the result line last on stdout; Spark logs go to stderr.
  */
object Main {
  val Workloads = Seq("stream_live", "batch_dedup")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val o = Opts(arg("--workload"), arg("--seed").toLong, arg("--seconds").toInt,
      arg("--trace") == "1", new File(arg("--work")), new File(arg("--data")),
      arg("--t0-ms").toLong, args.contains("--pin"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o.work.mkdirs()

    val spark = Harness.session(o.work)
    val outcome =
      try {
        if (o.workload == "stream_live") StreamBench.run(spark, o)
        else BatchBench.run(spark, o)
      } finally spark.stop()
    outcome.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    o.phase("done")
    println(Harness.resultLine(outcome))
    System.out.flush()
    // Exit at once: lingering non-daemon threads of a stopped session
    // would otherwise hold the JVM for seconds after the result.
    sys.exit(0)
  }
}

/** Where a traced run leaves its spans and layer summary: beside the
  * run directories, named by workload and seed, kept after the run.
  */
object Trace {
  def write(spans: Spans, o: Opts, metrics: Seq[Metric]): Unit = {
    val dir = new File(o.work.getParentFile, "trace")
    spans.write(new File(dir, s"${o.workload}-seed${o.seed}.spans.jsonl"),
      new File(dir, s"${o.workload}-seed${o.seed}.summary.json"), metrics)
  }
}
