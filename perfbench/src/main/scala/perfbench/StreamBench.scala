package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.model.{Detection, EngineConfig, FrameMetadata, VideoFrame}
import graft.sources.FrameCodec
import graft.streaming.{FrameGenerator, VideoPipeline}
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The streaming workload: JSON frames on the wire → FrameCodec.decode
  * → VideoPipeline.runStreaming (default trigger) → the detection and
  * segment parquet sinks, fed by an open loop of 64 cameras × 25 fps.
  * A chunk is one 40-ms tick, one frame per camera, added with one
  * MemoryStream.addData call, so its source offset is its index.
  */
object StreamBench {

  val Cameras = 64
  val PayloadBytes = 256
  val FrameMs = 40L // 25 fps
  val ChunksPerS: Int = (1000 / FrameMs).toInt
  /** Untimed chunks after the primer: 14 s of the schedule, through
    * the steepest part of the JIT's warm-up, when each batch is still
    * much faster than the one before.
    */
  val WarmChunks: Int = 14 * ChunksPerS
  /** Frames the traced single-layer calls run over: 10 s of input. */
  val SampleFrames = 16000

  /** Segments are cut every 4 s of event time instead of the paper's
    * 3 minutes, so the segment sink writes rows within a run. The
    * fold's per-frame work does not depend on this length.
    */
  val cfg: EngineConfig = EngineConfig(segmentDurationMs = 4000L)

  /** Frame `i`: frames are laid out tick-major, one per camera per
    * tick, so every chunk is time-ordered. The seed offsets every
    * payload seed.
    */
  def frameAt(seed: Long, i: Long): VideoFrame = {
    val tick = i / Cameras
    val cam = (i % Cameras).toInt
    VideoFrame(f"camera_${cam + 1}%03d", i, FrameGenerator.BASE_TS + tick * FrameMs,
      FrameGenerator.frameBytes(seed * 1000000007L + cam * 1000003L + tick,
        (tick / 40).toInt, PayloadBytes),
      tick.toInt, FrameMetadata(1920, 1080, 25, "jpeg"))
  }

  /** The Kafka wire format FrameCodec.decode reads: one JSON object per
    * frame, payload base64.
    */
  def wire(f: VideoFrame): Array[Byte] = {
    val m = f.metadata
    (s"""{"streamId":"${f.streamId}","frameId":${f.frameId},"timestamp":${f.timestamp},""" +
      s""""frameData":"${java.util.Base64.getEncoder.encodeToString(f.frameData)}",""" +
      s""""frameSequence":${f.frameSequence},"metadata":{"width":${m.width},""" +
      s""""height":${m.height},"fps":${m.fps},"codec":"${m.codec}"}}""").getBytes("UTF-8")
  }

  def chunk(seed: Long, k: Int): Seq[Array[Byte]] =
    (k.toLong * Cameras until (k + 1).toLong * Cameras).map(i => wire(frameAt(seed, i)))

  /** Every progress event of the run, as it arrives. */
  private final class ProgressLog extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** A batch that read input, with its commit time on the epoch clock:
    * trigger start plus the trigger's duration, which ends with the
    * offset commit.
    */
  private final case class Batch(p: StreamingQueryProgress) {
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val startMs: Long = Instant.parse(p.timestamp).toEpochMilli
    val endMs: Long = startMs + dur("triggerExecution")
    val rows: Long = p.numInputRows
    val endOffset: Long = p.sources.head.endOffset.trim.toLong
  }

  def run(spark: SparkSession, o: Opts): Outcome = {
    import spark.implicits._
    val out = new File(o.work, "sink").getPath
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobLog = if (o.trace) Some(new JobLog) else None
    jobLog.foreach(spark.sparkContext.addSparkListener)
    val heap = new HeapMonitor

    o.phase("session ready")
    val n = WarmChunks + o.seconds * ChunksPerS // scheduled chunks, after the primer
    val chunks = (0 to n).map(k => chunk(o.seed, k))
    val input = MemoryStream[Array[Byte]](spark)
    val query = VideoPipeline.runStreaming(FrameCodec.decode(input.toDF())(spark),
      out, new File(o.work, "checkpoint").getPath, cfg)
    // nanoTime → epoch, fixed once: progress events carry epoch time
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def epochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6

    // Chunk 0 primes the query: its batch pays the one-time costs
    // (codegen, state store start) that no later batch repeats.
    val primedNs = System.nanoTime()
    input.addData(chunks(0))
    query.processAllAvailable()
    o.phase("primed")
    val loop = new BenchMath.OpenLoop(System.nanoTime() + 100000000L, FrameMs * 1000000L)
    val windowStartNs = loop.due(WarmChunks)
    val windowEndNs = loop.due(n)
    val setupS = (epochMs(windowStartNs) - o.t0Ms) / 1e3
    val dueNs = primedNs +: (0 until n).map(loop.due)
    val lateNs = 0L +: loop.run(n, () => System.nanoTime(), d => {
      val w = d - System.nanoTime()
      if (w > 0) Thread.sleep(w / 1000000L, (w % 1000000L).toInt)
    }) { j =>
      if (j == WarmChunks) heap.arm()
      input.addData(chunks(j + 1))
    }.toIndexedSeq
    o.phase("window done")
    val heapMb = heap.finish()
    query.processAllAvailable()
    query.stop()
    o.phase("stopped")
    BenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(progress)

    val batches = progress.all.asScala.toSeq.filter(_.numInputRows > 0).map(Batch(_)).sortBy(_.startMs)
    batches.foreach(b => System.err.println(
      s"[perfbench] batch ${b.p.batchId} rows ${b.rows} ms ${b.dur("triggerExecution")} " +
        b.p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")))
    val offered = (n + 1).toLong * Cameras
    val committed = batches.map(_.rows).sum
    val commits = batches.map(b => BenchMath.Commit(b.p.batchId, b.endOffset, b.endMs * 1000000L))
    val lat = BenchMath.chargeLatencies(dueNs.map(_ + epochOffsetNs), commits)
    val firstTimed = 1 + WarmChunks
    val timedLat = (firstTimed to n).flatMap(k => lat(k)).map { case (ns, b) => (ns / 1e6, b) }
    val wStartMs = epochMs(windowStartNs)
    val wEndMs = epochMs(windowEndNs)
    val inWindow = batches.filter(b => b.endMs >= wStartMs && b.endMs <= wEndMs)

    // Frames committed after the window's first commit up to its last,
    // per second between the two: the offered rate while it is sustained.
    val opsPerS =
      if (inWindow.size < 2) Double.NaN
      else inWindow.tail.map(_.rows).sum / ((inWindow.last.endMs - inWindow.head.endMs) / 1e3)

    // Output check: the sinks hold exactly the batch twin's rows.
    val twin = VideoPipeline.process(spark.range(offered).map(i => frameAt(o.seed, i)), cfg)
    def lines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      BenchMath.canonicalLines(df.columns.toSeq, df.collect().map(_.toSeq).toSeq)
    val detSink = lines(spark.read.parquet(s"$out/detections").drop("batch_id"))
    val segSink = lines(spark.read.parquet(s"$out/segments").drop("batch_id"))
    val detOk = detSink == lines(VideoPipeline.dorisRows(twin))
    val segOk = segSink == lines(VideoPipeline.segmentRows(twin))
    o.phase("twin checked")
    val notes = Seq.newBuilder[String]
    if (!detOk) notes += s"detection sink differs from the batch twin (${detSink.size} rows)"
    if (!segOk) notes += s"segment sink differs from the batch twin (${segSink.size} rows)"
    if (committed != offered) notes += s"committed $committed of $offered frames"
    if (timedLat.isEmpty || opsPerS.isNaN) notes += "too few timed chunks were committed"
    val outputOk = detOk && segOk && timedLat.nonEmpty && !opsPerS.isNaN
    val failed = if (!outputOk) offered else offered - committed

    val latMs = if (timedLat.isEmpty) Seq(Double.NaN) else timedLat.map(_._1)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ops_per_s", opsPerS, "1/s"),
      Metric("latency_p50_ms", BenchMath.percentile(latMs, 50), "ms"),
      Metric("latency_p90_ms", BenchMath.percentile(latMs, 90), "ms"),
      Metric("heap_live_peak_mb", heapMb, "MB"))

    val layer = jobLog.toSeq.flatMap { log =>
      val spans = new Spans
      val m = streamingMetrics(spark, o, log, spans, inWindow, batches,
        dueNs.map(d => epochMs(d)), lateNs, firstTimed, timedLat, detSink.size, segSink.size)
      Trace.write(spans, o, m)
      m
    }
    Outcome(outputOk && committed == offered, offered, failed, e2e ++ layer, notes.result())
  }

  private def streamingMetrics(spark: SparkSession, o: Opts,
      log: JobLog, spans: Spans, inWindow: Seq[Batch], all: Seq[Batch],
      dueMs: IndexedSeq[Double], lateNs: IndexedSeq[Long], firstTimed: Int,
      timedLat: Seq[(Double, Long)], detRows: Int, segRows: Int): Seq[Metric] = {
    import spark.implicits._
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else BenchMath.median(xs)
    val ms = 1000000L
    // One span per micro-batch; its durationMs phases laid end to end
    // in the order the engine runs them; its jobs under the phase they
    // started in.
    val perBatchJobs = inWindow.map { b =>
      val root = spans.add(-1, "streaming", s"batch ${b.p.batchId}", b.startMs * ms, b.endMs * ms,
        Map("rows" -> b.rows.toDouble))
      var at = b.startMs
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .filter(b.p.durationMs.containsKey).map { ph =>
          val id = spans.add(root, "streaming", ph, at * ms, (at + b.dur(ph)) * ms)
          val r = (ph, at, at + b.dur(ph), id); at += b.dur(ph); r
        }
      val js = log.startedIn(b.startMs, b.endMs + 1)
      for (j <- js) {
        val parent = phases.find { case (_, a, e, _) => j.startMs >= a && j.startMs < e }.map(_._4).getOrElse(root)
        spans.add(parent, "spark.job", s"job ${j.id}", j.startMs * ms,
          (if (j.endMs < 0) j.startMs else j.endMs) * ms,
          Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble, "cpu_s" -> j.cpuNs / 1e9))
      }
      js
    }
    val lastState = all.lastOption.flatMap(_.p.stateOperators.headOption)

    // Offered minus committed, sampled right after every timed send.
    val lag = (firstTimed until dueMs.size).map { k =>
      val sentMs = dueMs(k) + lateNs(k) / 1e6
      val offered = (k + 1).toLong * Cameras
      offered - all.filter(_.endMs <= sentMs).map(_.rows).sum
    }

    // Traced single-layer calls over the workload's own frames.
    val n = SampleFrames
    val wireDf = spark.range(n).map(i => wire(frameAt(o.seed, i))).toDF("value").cache()
    wireDf.count()
    val decodeNs = (0 until 3).map { i =>
      spans.timed(-1, "sources", "FrameCodec.decode")(
        FrameCodec.decode(wireDf)(spark).write.format("noop").mode("overwrite").save())._2
    }.map(id => spans.all(id).durNs.toDouble)
    wireDf.unpersist()

    val frames = (0L until n).map(i => frameAt(o.seed, i)).groupBy(_.streamId)
    val detector = VideoPipeline.defaultDetector(cfg)
    var calls = 0L; var detNs = 0L
    val counting: VideoFrame => Seq[Detection] = f => {
      val t0 = System.nanoTime(); val r = detector(f)
      detNs += System.nanoTime() - t0; calls += 1; r
    }
    val (states, foldSpan) = spans.timed(-1, "streaming", "VideoPipeline.processFrames") {
      frames.toSeq.map { case (id, fs) =>
        VideoPipeline.processFrames(id, fs, VideoPipeline.initialState, cfg, counting)._2
      }
    }
    val foldNs = spans.all(foldSpan).durNs
    spans.add(foldSpan, "functions", "DetectionKernels.syntheticDetect", spans.all(foldSpan).startNs,
      spans.all(foldSpan).startNs + detNs, Map("calls" -> calls.toDouble))

    val batchFrames = med(inWindow.map(_.rows.toDouble)).toLong max 1L
    val events = VideoPipeline.process(spark.range(batchFrames).map(i => frameAt(o.seed, i)), cfg).cache()
    events.count()
    val sinkNs = (0 until 3).map { i =>
      spans.timed(-1, "streaming", "VideoPipeline.writeEventBatch")(
        VideoPipeline.writeEventBatch(events, i.toLong, new File(o.work, "sink-traced").getPath))._2
    }.map(id => spans.all(id).durNs.toDouble)
    events.unpersist()

    val durs = (k: String) => inWindow.map(_.dur(k).toDouble)
    val tail = BenchMath.supportedPercentile(inWindow.size).getOrElse(0)
    Seq(
      Metric("sources.decode_us_per_frame", med(decodeNs) / 1e3 / n, "us"),
      Metric("sources.lag_frames_max", if (lag.isEmpty) 0 else lag.max.toDouble, "count"),
      Metric("sources.gen_late_ms_max", lateNs.drop(firstTimed).maxOption.getOrElse(0L) / 1e6, "ms"),
      Metric("streaming.batches", inWindow.size, "count"),
      Metric("streaming.batch_ms_p50", med(durs("triggerExecution")), "ms"),
      Metric("streaming.batch_ms_p90", if (inWindow.isEmpty) Double.NaN else BenchMath.percentile(durs("triggerExecution"), 90), "ms"),
      Metric("streaming.add_batch_ms", med(durs("addBatch")), "ms"),
      Metric("streaming.planning_ms", med(durs("queryPlanning")), "ms"),
      Metric("streaming.offsets_ms", med(inWindow.map(b => (b.dur("walCommit") + b.dur("commitOffsets")).toDouble)), "ms"),
      Metric("streaming.state_commit_ms", med(inWindow.flatMap(_.p.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
      Metric("streaming.state_update_ms", med(inWindow.flatMap(_.p.stateOperators.headOption).map(_.allUpdatesTimeMs.toDouble)), "ms"),
      Metric("streaming.jobs_per_batch", med(perBatchJobs.map(_.size.toDouble)), "count"),
      Metric("streaming.stages_per_batch", med(perBatchJobs.map(_.map(_.stages).sum.toDouble)), "count"),
      Metric("streaming.tasks_per_batch", med(perBatchJobs.map(_.map(_.tasks).sum.toDouble)), "count"),
      Metric("streaming.task_s", med(perBatchJobs.map(_.map(_.taskMs).sum / 1e3)), "s"),
      Metric("streaming.cpu_s", med(perBatchJobs.map(_.map(_.cpuNs).sum / 1e9)), "s"),
      Metric("streaming.shuffle_mb", med(perBatchJobs.map(_.map(j => j.shuffleRead + j.shuffleWrite).sum / 1e6)), "MB"),
      Metric("streaming.state_rows", lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      Metric("streaming.state_mb", lastState.map(_.memoryUsedBytes / 1e6).getOrElse(0.0), "MB"),
      Metric("streaming.fold_us_per_frame", foldNs / 1e3 / n, "us"),
      Metric("streaming.sink_ms_per_batch", med(sinkNs) / 1e6, "ms"),
      Metric("streaming.keyframe_ratio", states.map(_.keyFrames).sum.toDouble / states.map(_.totalFrames).sum, "ratio"),
      Metric("streaming.detection_rows", detRows, "count"),
      Metric("streaming.segment_rows", segRows, "count"),
      Metric("streaming.latency_samples", timedLat.size, "count"),
      Metric("streaming.latency_tail_pct", tail, "pct"),
      Metric("streaming.latency_p90_batches_beyond",
        if (timedLat.isEmpty) 0 else BenchMath.groupsBeyond(timedLat, 90), "count"),
      Metric("functions.detect_calls", calls, "count"),
      Metric("functions.detect_us_per_call", if (calls == 0) 0 else detNs / 1e3 / calls, "us"))
  }
}
