package graft

import graft.model._
import graft.sources.FrameCodec
import graft.streaming.{FrameGenerator, VideoPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stateful-core semantics (pure fold + streaming e2e): segment
  * boundary at exactly segmentDuration (ref VideoSegmentBuffer.java:48-53),
  * keyframe time + scene rules (KeyFrameExtractor.java:57-78),
  * batch/stream equivalence, and the JSON wire codec round-trip.
  */
class VideoPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = EngineConfig()

  private def frame(sid: String, id: Long, ts: Long,
      scene: Int = 0): VideoFrame =
    VideoFrame(sid, id, ts, FrameGenerator.frameBytes(id, scene), id.toInt,
      FrameMetadata(1920, 1080, 25, "jpeg"))

  private def fold(frames: Seq[VideoFrame]) =
    VideoPipeline.processFrames("s1", frames, VideoPipeline.initialState,
      cfg, VideoPipeline.defaultDetector(cfg))

  test("segment flushes at exactly segmentDuration, including the trigger frame") {
    val t0 = 1700000000000L
    val frames = Seq(
      frame("s1", 0, t0),
      frame("s1", 1, t0 + 100000),
      frame("s1", 2, t0 + 179999), // span 179999 < 180000 → no flush
      frame("s1", 3, t0 + 180000), // span exactly 180000 → flush NOW
      frame("s1", 4, t0 + 180001))
    val (events, st) = fold(frames)
    val segs = events.filter(_.kind == "segment").flatMap(_.segment)
    assert(segs.length === 1)
    val s = segs.head
    assert(s.startTime === t0)
    assert(s.endTime === t0 + 180000) // trigger frame included
    assert(s.frameCount === 4)
    assert(s.duration === 180000L)
    // frame 4 opens the next segment
    assert(st.segStart === t0 + 180001)
    assert(st.segFrames === 1)
  }

  test("segment path follows the OSS key scheme") {
    assert(VideoPipeline.segmentPath("camera_001", 1700000000000L) ===
      "videos/camera_001/20231114/22/camera_001_1700000000000.mp4")
  }

  test("keyframe time rule: first frame keys, then every >= minInterval") {
    val t0 = 1700000000000L
    // identical payloads (scene 0) → similarity 1.0 → scene rule never fires
    val frames = (0 until 12).map(i => frame("s1", i, t0 + i * 1000, 0)
      .copy(frameData = FrameGenerator.frameBytes(99, 0))) // same bytes
    val (events, st) = fold(frames)
    val keyTs = events.filter(_.kind == "detection").map(_.timestamp)
    // first frame: ts - 0 >= 5000 → key; then every 5 s
    assert(keyTs === Seq(t0, t0 + 5000, t0 + 10000))
    assert(st.keyFrames === 3 && st.totalFrames === 12)
  }

  test("scene-change rule fires on payload distribution shift") {
    val t0 = 1700000000000L
    val frames = Seq(
      frame("s1", 0, t0, 0), // key (time rule)
      frame("s1", 1, t0 + 1000, 0), // same scene → not key
      frame("s1", 2, t0 + 2000, 3)) // scene shift → key (scene rule)
    val sim = VideoPipeline.similarity(
      VideoPipeline.signature(frames(1).frameData),
      VideoPipeline.signature(frames(2).frameData))
    assert(sim < cfg.similarityThreshold, s"fixture must shift scene (sim=$sim)")
    val (events, _) = fold(frames)
    val keyIds = events.filter(_.kind == "detection").map(_.frameId)
    assert(keyIds === Seq(0L, 2L))
  }

  test("segments partition the stream: frame counts add up per key") {
    val frames = FrameGenerator.frames(streams = 1, fps = 5, durationSec = 600)
    val (events, st) = fold(frames)
    val segs = events.filter(_.kind == "segment").flatMap(_.segment)
    assert(segs.nonEmpty)
    assert(segs.map(_.frameCount).sum + st.segFrames === frames.length)
    // segments are disjoint and ordered
    segs.sliding(2).foreach {
      case Seq(a, b) => assert(a.endTime < b.startTime)
      case _ =>
    }
  }

  test("property: random streams — segment partition + time-rule gap invariants") {
    // arbitrary (seeded) frame cadence: segments always partition the
    // stream, never under-run the duration, and never overlap
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 20) {
      val n = 50 + rnd.nextInt(300)
      var ts = 1700000000000L
      val frames = (0 until n).map { i =>
        ts += 1 + rnd.nextInt(20000).toLong
        frame("s1", i, ts, rnd.nextInt(4))
      }
      val (events, st) = fold(frames)
      val segs = events.filter(_.kind == "segment").flatMap(_.segment)
      assert(segs.map(_.frameCount).sum + st.segFrames === n)
      segs.foreach(s => assert(s.duration >= cfg.segmentDurationMs))
      segs.sliding(2).foreach {
        case Seq(a, b) => assert(a.endTime < b.startTime)
        case _ =>
      }
    }
    // constant payload → similarity 1.0 → pure time rule: consecutive
    // keyframe gaps are never below the configured interval
    val still = FrameGenerator.frameBytes(7, 0)
    for (trial <- 0 until 10) {
      val rnd2 = new scala.util.Random(100 + trial)
      var ts = 1700000000000L
      val frames = (0 until 200).map { i =>
        ts += 1 + rnd2.nextInt(3000).toLong
        frame("s1", i, ts).copy(frameData = still)
      }
      val keyTs = fold(frames)._1.filter(_.kind == "detection").map(_.timestamp)
      assert(keyTs.nonEmpty)
      keyTs.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= cfg.keyframeMinIntervalMs)
        case _ =>
      }
    }
  }

  test("batch process() equals the pure fold per key") {
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val ds = spark.createDataset(scala.util.Random.shuffle(frames)) // order-independence
    val got = VideoPipeline.process(ds, cfg).collect()
      .groupBy(_.streamId).view.mapValues(_.toSeq).toMap
    for (sid <- frames.map(_.streamId).distinct) {
      val expected = VideoPipeline.processFrames(sid,
        frames.filter(_.streamId == sid), VideoPipeline.initialState, cfg,
        VideoPipeline.defaultDetector(cfg))._1
      // events within a key are emitted in fold order
      assert(got(sid) === expected, s"stream $sid")
    }
  }

  test("the fold's input stage plans no per-frame key function") {
    import spark.implicits._
    val events = VideoPipeline.process(spark.createDataset(
      FrameGenerator.frames(streams = 2, fps = 5, durationSec = 20)), cfg)
    val plan = events.queryExecution.sparkPlan // before adaptive execution wraps it
    assert(plan.collect { case p: org.apache.spark.sql.execution.AppendColumnsExec => p }.isEmpty,
      plan.treeString)
  }

  test("streaming e2e (MemoryStream, 2 batches) matches single-batch run") {
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)

    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.process(mem.toDS(), cfg).writeStream
      .format("memory").queryName("pipe_out").outputMode("append").start()
    mem.addData(b1)
    q.processAllAvailable()
    mem.addData(b2)
    q.processAllAvailable()
    val streamed = spark.table("pipe_out").as[PipelineEvent].collect()
    q.stop()

    val batch = VideoPipeline.process(spark.createDataset(frames), cfg).collect()
    // same event multiset (batch boundaries fall between frames in time
    // order here, so state carries identically)
    def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
      e.detections.map(_.objectClass).mkString(","),
      e.segment.map(_.startTime).getOrElse(-1L)).toString
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
    assert(streamed.count(_.kind == "segment") > 0)
  }

  test("transformWithState path matches flatMapGroupsWithState across batches") {
    // dedicated session (shared context): TWS requires the RocksDB
    // state store provider, a session-level conf
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    locally {
      import s2.implicits._
      val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
      val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
      val mem = MemoryStream[VideoFrame](s2)
      val q = VideoPipeline.processTWS(mem.toDS(), cfg).writeStream
        .format("memory").queryName("tws_out").outputMode("append").start()
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val streamed = s2.table("tws_out").as[PipelineEvent].collect()
      q.stop()
      val batch = VideoPipeline.process(s2.createDataset(frames), cfg).collect()
      def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
        e.detections.map(_.objectClass).mkString(","),
        e.segment.map(_.startTime).getOrElse(-1L)).toString
      assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
      assert(streamed.count(_.kind == "segment") > 0)
    }
  }

  test("transformWithState checkpoint recovery: kill mid-stream, resume equals uninterrupted run") {
    // The Spark-4 StatefulProcessor path (SURVEY §2 row D's stated
    // target) must restore its ValueState from the RocksDB-provider
    // checkpoint across a query restart — the reference's exactly-once
    // state contract (VideoProcessFunction.java:154-191). Dedicated
    // session: the provider class is session-level conf.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    locally {
      import s2.implicits._
      implicit val s: SparkSession = s2
      val base = java.nio.file.Files.createTempDirectory("graft_tws_ckpt_").toString
      val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
      new java.io.File(inDir).mkdirs()

      val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
      val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
      def writeBatch(fs: Seq[VideoFrame]): Unit =
        FrameCodec.encode(s2.createDataset(fs)).select("value")
          .coalesce(1).write.mode("append").text(inDir)

      def startQuery() = {
        val src = FrameCodec.decode(
          s2.readStream.text(inDir).select($"value".cast("binary").as("value")))
        VideoPipeline.processTWS(src, cfg).writeStream
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir)
          .outputMode("append").start()
      }

      writeBatch(b1)
      val q1 = startQuery()
      q1.processAllAvailable(); q1.stop() // "kill" mid-stream
      writeBatch(b2)
      val q2 = startQuery() // fresh query, same checkpoint → state restored
      q2.processAllAvailable(); q2.stop()

      val got = s2.read.parquet(outDir).as[PipelineEvent].collect()
      val batch = VideoPipeline.process(s2.createDataset(frames), cfg).collect()
      def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
        e.detections.map(_.objectClass).mkString(","),
        e.segment.map(_.startTime).getOrElse(-1L)).toString
      // exactly-once across the restart: open-segment buffers carried
      // through the checkpoint, no duplicates, no loss
      assert(got.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
      assert(got.count(_.kind == "segment") > 0)
    }
  }

  test("watermarked segment summaries: windows close in append mode, late frames drop") {
    import spark.implicits._
    val t0 = FrameGenerator.BASE_TS
    def f(id: Long, ts: Long) = frame("s1", id, ts)
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.segmentSummaries(mem.toDS(), "30 seconds")
      .writeStream.format("memory").queryName("seg_sum")
      .outputMode("append").start()
    // batch 1: two frames in window [t0, t0+180s)
    mem.addData(Seq(f(0, t0), f(1, t0 + 60000)))
    q.processAllAvailable()
    // batch 2: advance event time past window end + lateness → closes w0
    mem.addData(Seq(f(2, t0 + 180000 + 31000)))
    q.processAllAvailable()
    // batch 3: a LATE frame for the closed window — must be dropped
    mem.addData(Seq(f(3, t0 + 1000)))
    q.processAllAvailable()
    // batch 4: advance far enough to close the second window too
    mem.addData(Seq(f(4, t0 + 2 * 180000 + 31000)))
    q.processAllAvailable()
    val rows = spark.table("seg_sum").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap // window_start → count
    q.stop()
    val w0 = t0 / 180000 * 180000
    val w1 = (t0 + 211000) / 180000 * 180000
    assert(rows(w0) === 2L,
      s"first window has exactly the 2 on-time frames (late frame dropped): $rows")
    assert(rows(w1) === 1L, s"second window closed with its single frame: $rows")
  }

  test("streaming dedup drops redelivered frames within the watermark") {
    import spark.implicits._
    val t0 = FrameGenerator.BASE_TS
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.dedupFrames(mem.toDS(), "30 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val f1 = frame("s1", 1, t0)
    val f2 = frame("s1", 2, t0 + 1000)
    mem.addData(Seq(f1, f2, f1)) // duplicate within one batch
    q.processAllAvailable()
    mem.addData(Seq(f2, frame("s1", 3, t0 + 2000))) // redelivery across batches
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("frameId")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("runStreaming writes both sinks from one stateful pass") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dual_").toString
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.runStreaming(mem.toDS(), s"$base/out",
      s"$base/ckpt", cfg)
    mem.addData(FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400))
    q.processAllAvailable()
    q.stop()
    val dets = spark.read.parquet(s"$base/out/detections")
    val segs = spark.read.parquet(s"$base/out/segments")
    assert(dets.count() > 0 && segs.count() > 0)
    assert(dets.columns.contains("object_class") &&
      segs.columns.contains("start_time"))
  }

  test("sink writes are idempotent under same-batchId replay") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_idem_").toString
    val events = VideoPipeline.process(spark.createDataset(
      FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)), cfg)
    VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    val dets1 = spark.read.parquet(s"$base/out/detections").count()
    val segs1 = spark.read.parquet(s"$base/out/segments").count()
    assert(dets1 > 0 && segs1 > 0)
    // at-least-once replay: same batchId, same data → no duplicates
    VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    assert(spark.read.parquet(s"$base/out/detections").count() === dets1)
    assert(spark.read.parquet(s"$base/out/segments").count() === segs1)
    // a NEW batch still appends (overwrite is per-batch directory, not global)
    VideoPipeline.writeEventBatch(events, batchId = 1L, s"$base/out")
    assert(spark.read.parquet(s"$base/out/detections").count() === 2 * dets1)
    assert(spark.read.parquet(s"$base/out/segments").count() === 2 * segs1)
    // a replay replaces its batch directory whole: stale files go too
    val stale = new java.io.File(s"$base/out/detections/batch_id=0/part-stale.parquet")
    java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
    VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    assert(!stale.exists())
    assert(spark.read.parquet(s"$base/out/detections").count() === 2 * dets1)
    // an interrupted write leaves its `_`-prefixed temp file behind:
    // readers skip it, and the replay clears it
    val batchDir = new java.io.File(s"$base/out/detections/batch_id=0")
    val partial = new java.io.File(batchDir, "_part-00000.snappy.parquet")
    java.nio.file.Files.write(partial.toPath, Array[Byte](1, 2, 3))
    assert(spark.read.parquet(s"$base/out/detections").count() === 2 * dets1)
    VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    assert(batchDir.list().filter(_.startsWith("_part-")).isEmpty,
      batchDir.list().mkString(", "))
    assert(spark.read.parquet(s"$base/out/detections").count() === 2 * dets1)

    // one branch failing: the error surfaces only once the other
    // branch's write has ended, whichever branch is written first
    def failing(broken: String, other: String) = {
      val out = s"$base/broken_$broken"
      new java.io.File(out).mkdirs()
      assert(new java.io.File(s"$out/$broken").createNewFile())
      val e = intercept[Exception](VideoPipeline.writeEventBatch(events, 0L, out))
      val writers = Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.getName.startsWith("segment-sink") && t.isAlive)
      assert(writers.isEmpty, "segment writer still running after the throw")
      assert(new java.io.File(s"$out/$other/batch_id=0/_SUCCESS").exists(),
        s"$other branch had not finished when the $broken error was thrown")
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(s"$out/$broken")), e)
    }
    failing("segments", "detections") // the second branch fails
    failing("detections", "segments") // the first branch fails
  }

  test("a micro-batch runs one Spark job, starts no thread and writes one file per branch") {
    import spark.implicits._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = java.nio.file.Files.createTempDirectory("graft_onejob_").toString
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.runStreaming(mem.toDS(), s"$base/out", s"$base/ckpt", cfg)
    // jobs by the batch id the stream stamps on them; "fence" marks a
    // job started after the query stopped
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val batch =
          if (p.exists(_.getProperty("graft.test.fence") != null)) Some("fence")
          else p.filter(_.getProperty("sql.streaming.queryId") == q.id.toString)
            .flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        batch.foreach(jobs.add)
      }
    }
    val rec = new Recording()
    rec.enable("jdk.ThreadStart").withStackTrace()
    spark.sparkContext.addSparkListener(listener)
    try {
      rec.start()
      val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)
      val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 200000)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      q.stop()
      rec.stop()
      // events reach a listener in the order they were posted: once the
      // fence job is seen, so is every job of the query
      spark.sparkContext.setLocalProperty("graft.test.fence", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.test.fence", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("fence"), "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)

    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(batches.length === 2)
    for (b <- batches) {
      // an upper bound: the fold's collect is the batch's only job
      val n = jobs.asScala.count(_ == b.toString)
      assert(n <= 1, s"batch $b ran $n Spark jobs")
      for (branch <- Seq("detections", "segments")) {
        val files = new java.io.File(s"$base/out/$branch/batch_id=$b").list()
        assert(files.count(_.startsWith("part-")) === 1, files.mkString(", "))
        assert(files.contains("_SUCCESS"), files.mkString(", "))
      }
    }
    val dump = java.nio.file.Paths.get(base, "threads.jfr")
    rec.dump(dump); rec.close()
    val sinkThreads = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ThreadStart")
      .filter(e => e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("graft.streaming.VideoPipeline")))
    if (sinkThreads.nonEmpty)
      fail(s"${sinkThreads.size} threads started by the sink, e.g. ${sinkThreads.head.getThread("eventThread").getJavaName}")
  }

  test("a micro-batch's stages run at most one task per core, however many source partitions") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val base = java.nio.file.Files.createTempDirectory("graft_tasks_").toString
    val mem = MemoryStream[VideoFrame](spark)
    // tasks per stage of the query; -1 marks the fence stage started
    // after the query stopped
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("graft.test.fence") != null)) stages.add(-1)
        else if (p.exists(_.getProperty("sql.streaming.queryId") != null))
          stages.add(e.stageInfo.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // twelve adds before the query starts: twelve source partitions
      // in its first micro-batch
      FrameGenerator.frames(streams = 2, fps = 5, durationSec = 240)
        .grouped(200).foreach(mem.addData(_))
      val q = VideoPipeline.runStreaming(mem.toDS(), s"$base/out", s"$base/ckpt", cfg)
      q.processAllAvailable()
      q.stop()
      spark.sparkContext.setLocalProperty("graft.test.fence", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.test.fence", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!stages.contains(-1) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(stages.contains(-1), "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    stages.remove(-1)
    val cores = spark.sparkContext.defaultParallelism
    assert(stages.asScala.nonEmpty)
    assert(stages.asScala.forall(_ <= math.max(cores, spark.conf.get("spark.sql.shuffle.partitions").toInt)),
      s"tasks per stage ${stages.asScala.mkString(", ")} with $cores cores")
  }

  test("degenerate micro-batches: sink rows equal the batch twins, every branch dir complete") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_degenerate_").toString
    val t0 = 1700000000000L
    val seg = VideoSegment("s1", t0, t0 + 180000,
      VideoPipeline.segmentPath("s1", t0), 4, 1024L, 180000L)
    val car = Detection("car", 0.9f, BoundingBox(1, 2, 3, 4))
    def parquetSchema(dir: String) = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val part = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getPath), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val batches = Seq(
      "no events" -> Seq.empty[PipelineEvent],
      "segments only" -> Seq(
        PipelineEvent("segment", "s1", -1L, t0 + 180000, Seq.empty, Some(seg)),
        PipelineEvent("segment", "s2", -1L, t0 + 180000, Seq.empty,
          Some(seg.copy(streamId = "s2")))),
      "empty detections" -> Seq(
        PipelineEvent("detection", "s1", 1L, t0, Seq.empty, None)),
      "a null detection" -> Seq(
        PipelineEvent("detection", "s1", 2L, t0, Seq(null, car), None),
        PipelineEvent("detection", "s1", 3L, t0 + 40, Seq(null), None)))
    for (((name, events), id) <- batches.zipWithIndex) {
      val ds = spark.createDataset(events)
      VideoPipeline.writeEventBatch(ds, id.toLong, s"$base/out")
      for ((branch, twin) <- Seq("detections" -> VideoPipeline.dorisRows(ds),
          "segments" -> VideoPipeline.segmentRows(ds))) {
        val dir = new java.io.File(s"$base/out/$branch/batch_id=$id")
        val files = dir.list()
        assert(files.contains("_SUCCESS"), s"$name/$branch: ${files.mkString(", ")}")
        assert(files.count(_.startsWith("part-")) === 1, s"$name/$branch: ${files.mkString(", ")}")
        // readable even when empty: the file carries the branch schema
        val got = spark.read.parquet(dir.getPath)
        assert(got.schema.map(f => f.name -> f.dataType) ===
          twin.schema.map(f => f.name -> f.dataType), s"$name/$branch")
        def lines(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
        assert(lines(got) === lines(twin), s"$name/$branch")
        // the file's parquet schema (required vs optional columns
        // included) is the one Spark's own write of the twin gives
        val ref = s"$base/ref/$branch/batch_id=$id"
        twin.write.parquet(ref)
        assert(parquetSchema(dir.getPath) === parquetSchema(ref), s"$name/$branch")
      }
    }
    // the null element is a row of nulls, as plain explode gives it
    val nullRows = spark.read.parquet(s"$base/out/detections/batch_id=3")
      .filter($"object_class".isNull).count()
    assert(nullRows === 2L)
  }

  test("the sink spawns no process and leaves the session's filesystem binding alone") {
    import spark.implicits._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = java.nio.file.Files.createTempDirectory("graft_forks_").toString
    val events = VideoPipeline.process(spark.createDataset(
      FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)), cfg)
    assert(spark.streams.active.isEmpty)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    finally rec.stop()
    val dump = java.nio.file.Paths.get(base, "sink.jfr")
    rec.dump(dump); rec.close()
    val forks = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(e => e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.RawLocalFileSystem")))
      .map(_.getString("command"))
    if (forks.nonEmpty)
      fail(s"${forks.size} processes spawned by RawLocalFileSystem, e.g. ${forks.take(3)}")
    assert(spark.read.parquet(s"$base/out/detections").count() > 0)

    val hadoopImpl = spark.sparkContext.hadoopConfiguration.get("fs.file.impl")
    val sessionImpl = spark.conf.getOption("fs.file.impl")
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.runStreaming(mem.toDS(), s"$base/stream",
      s"$base/ckpt", cfg)
    mem.addData(FrameGenerator.frames(streams = 2, fps = 5, durationSec = 200))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$base/stream/detections").count() > 0)
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") === hadoopImpl)
    assert(spark.conf.getOption("fs.file.impl") === sessionImpl)
  }

  test("the sink closes no cached FileSystem: a remote store's instance stays usable") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path}
    val base = java.nio.file.Files.createTempDirectory("graft_cachedfs_").toString
    val events = VideoPipeline.process(spark.createDataset(
      FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)), cfg)
    val uri = java.net.URI.create(s"${CachedTestFileSystem.Scheme}:///")
    spark.conf.set(s"fs.${CachedTestFileSystem.Scheme}.impl", classOf[CachedTestFileSystem].getName)
    try {
      val conf = spark.sessionState.newHadoopConf()
      val shared = FileSystem.get(uri, conf).asInstanceOf[CachedTestFileSystem]
      val out = s"${CachedTestFileSystem.Scheme}://$base/out"
      VideoPipeline.writeEventBatch(events, batchId = 0L, out)
      VideoPipeline.writeEventBatch(events, batchId = 1L, out)
      assert(!shared.closed, "the sink closed the JVM-wide cached instance")
      assert(FileSystem.get(uri, conf) eq shared)
      assert(shared.exists(new Path(s"$out/segments/batch_id=1/_SUCCESS")))
      shared.close()
    } finally spark.conf.unset(s"fs.${CachedTestFileSystem.Scheme}.impl")
    val dets = spark.read.parquet(s"$base/out/detections")
    assert(dets.count() > 0)
    assert(dets.select("batch_id").distinct().count() === 2L)
  }

  test("replayed micro-batch after commit loss does not duplicate sink rows") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val base = java.nio.file.Files.createTempDirectory("graft_replay_").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)
    FrameCodec.encode(spark.createDataset(frames)).select("value")
      .coalesce(1).write.mode("append").text(inDir)

    def startQuery() = {
      val src = FrameCodec.decode(
        spark.readStream.text(inDir).select($"value".cast("binary").as("value")))
      VideoPipeline.runStreaming(src, outDir, ckpt, cfg)
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val dets1 = spark.read.parquet(s"$outDir/detections").count()
    val segs1 = spark.read.parquet(s"$outDir/segments").count()
    assert(dets1 > 0 && segs1 > 0)

    // simulate a crash AFTER the sink write but BEFORE the checkpoint
    // commit: delete the latest commit marker → the restarted query
    // re-executes that batchId with the same source data
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val last = commits.last.getName
    assert(commits.last.delete())
    // also drop the Hadoop local-FS checksum sidecar, or the replayed
    // commit's rename collides with the stale .crc
    val crc = new java.io.File(commitDir, s".$last.crc")
    if (crc.exists()) crc.delete()

    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$outDir/detections").count() === dets1,
      "replayed batch duplicated detection rows")
    assert(spark.read.parquet(s"$outDir/segments").count() === segs1,
      "replayed batch duplicated segment rows")
  }

  test("checkpoint recovery: state survives a query restart (file source)") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()

    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
    def writeBatch(fs: Seq[VideoFrame], name: String): Unit =
      FrameCodec.encode(spark.createDataset(fs)).select("value")
        .coalesce(1).write.mode("append").text(inDir)

    def startQuery() = {
      val src = FrameCodec.decode(
        spark.readStream.text(inDir).select($"value".cast("binary").as("value")))
      VideoPipeline.process(src, cfg).writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .outputMode("append").start()
    }

    writeBatch(b1, "b1")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    writeBatch(b2, "b2")
    val q2 = startQuery() // fresh query, same checkpoint → state restored
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir).as[PipelineEvent].collect()
    val batch = VideoPipeline.process(spark.createDataset(frames), cfg).collect()
    def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
      e.detections.map(_.objectClass).mkString(","),
      e.segment.map(_.startTime).getOrElse(-1L)).toString
    // exactly-once across the restart: no duplicates, no loss, and
    // segments spanning the restart boundary prove state continuity
    assert(got.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
    assert(got.count(_.kind == "segment") > 0)
  }

  test("frame codec round-trip preserves frames byte-for-byte") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 1, fps = 5, durationSec = 2)
    val wire = FrameCodec.encode(spark.createDataset(frames))
      .select($"value".cast("binary").as("value"))
    val decoded = FrameCodec.decode(wire).collect()
    assert(decoded.length === frames.length)
    val byId = decoded.map(f => f.frameId -> f).toMap
    for (f <- frames) {
      val d = byId(f.frameId)
      assert(d.streamId === f.streamId)
      assert(d.timestamp === f.timestamp)
      assert(d.frameData.toSeq === f.frameData.toSeq)
      assert(d.metadata === f.metadata)
    }
  }

  test("doris json lines carry exactly the reference sink's field names") {
    import spark.implicits._
    val events = Seq(PipelineEvent("detection", "s1", 2L, 1700000000000L,
      Seq(Detection("car", 0.9f, BoundingBox(1, 2, 3, 4))), None))
    val line = VideoPipeline.dorisJsonLines(spark.createDataset(events))
      .collect().head.getString(0)
    // field names per sink/DorisSinkBuilder.java:109-120
    val parsed = spark.read.json(Seq(line).toDS()).columns.toSet
    assert(parsed === Set("stream_id", "detection_time", "frame_id",
      "object_class", "confidence", "bbox_x1", "bbox_y1", "bbox_x2",
      "bbox_y2", "frame_url"))
  }

  test("salted join equals plain join on skewed data") {
    import graft.operators.Skew
    import spark.implicits._
    // 90% of rows share one hot key
    val big = (0 until 2000).map(i =>
      (if (i % 10 == 0) s"user_${i % 7}" else "hot_user", i.toLong))
      .toDF("user_id", "event_id")
    val small = big.groupBy("user_id").count()
    val salted = Skew.saltedJoin(big, small, "user_id", 8)
      .select("user_id", "event_id", "count")
      .collect().map(_.toSeq).sortBy(_.toString())
    val plain = big.join(small, "user_id")
      .select("user_id", "event_id", "count")
      .collect().map(_.toSeq).sortBy(_.toString())
    assert(salted === plain)
  }

  test("doris rows: empty-detection results produce no rows") {
    import spark.implicits._
    val events = Seq(
      PipelineEvent("detection", "s1", 1L, 1700000000000L, Seq.empty, None),
      PipelineEvent("detection", "s1", 2L, 1700000000000L,
        Seq(Detection("car", 0.9f, BoundingBox(1, 2, 3, 4))), None))
    val rows = VideoPipeline.dorisRows(spark.createDataset(events)).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("frame_id") === 2L)
    assert(rows.head.getAs[String]("detection_time") === "2023-11-14 22:13:20")
  }
}

/** Local files under a scheme of its own whose instances the Hadoop
  * FileSystem cache shares, as it shares a remote store's (hdfs:,
  * s3a:): `FileSystem.get` hands every caller the same instance, so
  * one caller closing it breaks the others. `closed` records that.
  */
class CachedTestFileSystem extends graft.streaming.NioRawLocalFileSystem {
  @volatile var closed = false
  override def getUri: java.net.URI = java.net.URI.create(s"${CachedTestFileSystem.Scheme}:///")
  override def getScheme: String = CachedTestFileSystem.Scheme
  override def close(): Unit = { closed = true; super.close() }
}

object CachedTestFileSystem {
  val Scheme = "graftcached"
}
