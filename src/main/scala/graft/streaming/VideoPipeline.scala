package graft.streaming

import java.io.IOException

import scala.util.control.NonFatal

import graft.functions.DetectionKernels
import graft.model._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The stateful core of the engine — the Spark re-expression of the
  * reference's keyed process function (function/VideoProcessFunction
  * .java:78-139): per-stream segment buffering + keyframe extraction +
  * detection, emitting a tagged-union event stream (Spark has no side
  * outputs; SURVEY.md §7.3).
  *
  * Semantics (documented intent, SURVEY.md §2.1.1/2.1.2 — per-KEY
  * state, real similarity):
  *   per frame, in (timestamp, frameId) order within each micro-batch:
  *     1. extend the current segment; if ts − segStart ≥ segmentDuration,
  *        emit the segment (INCLUDING this frame — reference adds the
  *        frame before the flush check) and reset.
  *     2. keyframe iff ts − lastKeyFrameTime ≥ minInterval (time rule,
  *        KeyFrameExtractor.java:57-61) OR histogram similarity with
  *        the previous frame < threshold (scene rule, :64-78 — the
  *        reference's stubbed compareHistograms replaced by a real
  *        deterministic byte-histogram intersection).
  *     3. detect on keyframes → detection event.
  *
  * Scale design: state per key is O(1) — counters and bounds, never a
  * frame buffer (the reference buffers raw JPEGs only to feed ffmpeg,
  * which is stubbed here; a real encode sink would write frames to
  * object storage per micro-batch and compose manifests instead of
  * holding them in state). The only shuffle is the exchange
  * on streamId, identical to the reference's keyBy.
  */
object VideoPipeline {

  /** Per-key state. prevSig is the previous frame's 32-bin byte
    * histogram (similarity rule); seg* track the open segment.
    */
  final case class StreamState(
      lastKeyFrameTime: Long,
      prevSig: Array[Double],
      segStart: Long, // first buffered frame ts; -1 = empty buffer
      segEnd: Long,
      segFrames: Int,
      segBytes: Long,
      totalFrames: Long,
      keyFrames: Long)

  val initialState: StreamState =
    StreamState(0L, null, -1L, -1L, 0, 0L, 0L, 0L)

  /** 32-bin normalized byte histogram (the deterministic stand-in for
    * the reference's stubbed OpenCV histogram, util/ImageUtils.java:80-84).
    */
  def signature(bytes: Array[Byte]): Array[Double] = {
    val h = new Array[Double](32)
    if (bytes == null || bytes.isEmpty) return h
    var i = 0
    while (i < bytes.length) { h((bytes(i) & 0xff) >> 3) += 1.0; i += 1 }
    var j = 0
    while (j < 32) { h(j) /= bytes.length; j += 1 }
    h
  }

  /** Histogram intersection similarity in [0,1]. */
  def similarity(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 32) { s += math.min(a(i), b(i)); i += 1 }
    s
  }

  /** OSS/MinIO object key scheme (sink/OSSVideoSink.java:48-57),
    * UTC-formatted from the segment start (data-derived, never
    * wall-clock).
    */
  def segmentPath(streamId: String, startTime: Long): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd/HH")
      .withZone(java.time.ZoneOffset.UTC)
    s"videos/$streamId/${fmt.format(java.time.Instant.ofEpochMilli(startTime))}/${streamId}_$startTime.mp4"
  }

  /** The pure per-key fold: frames (already time-ordered) × state →
    * (events, new state). Shared verbatim by the streaming operator,
    * the batch twin, and the unit tests.
    */
  def processFrames(streamId: String, frames: Seq[VideoFrame],
      state: StreamState, cfg: EngineConfig,
      detector: VideoFrame => Seq[Detection]): (Seq[PipelineEvent], StreamState) = {
    var st = state
    val out = Seq.newBuilder[PipelineEvent]
    for (f <- frames) {
      // 1. segment buffering (buffer-extend BEFORE flush check — the
      // flushed segment includes the current frame)
      val segStart = if (st.segStart < 0) f.timestamp else st.segStart
      val segFrames = st.segFrames + 1
      val segBytes = st.segBytes +
        (if (f.frameData == null) 0 else f.frameData.length)
      if (f.timestamp - segStart >= cfg.segmentDurationMs) {
        val seg = VideoSegment(streamId, segStart, f.timestamp,
          segmentPath(streamId, segStart), segFrames, segBytes,
          f.timestamp - segStart)
        out += PipelineEvent("segment", streamId, -1L, f.timestamp,
          Seq.empty, Some(seg))
        st = st.copy(segStart = -1L, segEnd = -1L, segFrames = 0, segBytes = 0L)
      } else {
        st = st.copy(segStart = segStart, segEnd = f.timestamp,
          segFrames = segFrames, segBytes = segBytes)
      }
      // 2. keyframe decision
      val sig = signature(f.frameData)
      val timeRule = f.timestamp - st.lastKeyFrameTime >= cfg.keyframeMinIntervalMs
      val sceneRule = st.prevSig != null &&
        similarity(st.prevSig, sig) < cfg.similarityThreshold
      val isKey = timeRule || sceneRule
      st = st.copy(prevSig = sig, totalFrames = st.totalFrames + 1,
        lastKeyFrameTime = if (isKey) f.timestamp else st.lastKeyFrameTime,
        keyFrames = if (isKey) st.keyFrames + 1 else st.keyFrames)
      // 3. detection on keyframes
      if (isKey) {
        out += PipelineEvent("detection", streamId, f.frameId, f.timestamp,
          detector(f), None)
      }
    }
    (out.result(), st)
  }

  /** Default pluggable detector: deterministic synthetic (the ONNX
    * blobs are absent from the reference repo — SURVEY.md §2.1.7; a
    * real ONNX adapter plugs in behind the same signature with a
    * lazily-initialized per-executor session).
    */
  def defaultDetector(cfg: EngineConfig): VideoFrame => Seq[Detection] =
    f => DetectionKernels.syntheticDetect(f.frameData,
      if (f.metadata != null) f.metadata.width else 1920,
      if (f.metadata != null) f.metadata.height else 1080,
      cfg.confidenceThreshold.toFloat)

  private def groupFn(cfg: EngineConfig, detector: VideoFrame => Seq[Detection])(
      streamId: String, it: Iterator[VideoFrame],
      gs: GroupState[StreamState]): Iterator[PipelineEvent] = {
    val sorted = it.toSeq.sortBy(f => (f.timestamp, f.frameId))
    val st = gs.getOption.getOrElse(initialState)
    val (events, next) = processFrames(streamId, sorted, st, cfg, detector)
    gs.update(next)
    events.iterator
  }

  /** Streaming (or batch — the API works on both) stateful operator:
    * one exchange on streamId, then the per-key fold with persistent
    * state across micro-batches. Within a batch frames are sorted by
    * event time; across batches arrival order rules (the reference has
    * no watermarks either — VideoStreamProcessingJob.java:61).
    *
    * Grouped by the `streamId` column, not by a key function: a key
    * function (`groupByKey(_.streamId)`) plans an AppendColumns step
    * that builds every frame as an object just to read its key, and
    * generates that step's code again in every task of the input stage.
    * The exchange hashes the same string either way.
    */
  def process(frames: Dataset[VideoFrame],
      cfg: EngineConfig = EngineConfig(),
      detector: VideoFrame => Seq[Detection] = null): Dataset[PipelineEvent] = {
    import frames.sparkSession.implicits._
    val det = if (detector == null) defaultDetector(cfg) else detector
    frames.groupBy(col("streamId")).as[String, VideoFrame]
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(groupFn(cfg, det))
  }

  /** The event columns both sink branches read, one row per element
    * of a detection event's `detections` (null elements included) as
    * `d`, and one row, `d` null, for every other event and for a
    * detection event with no detections. The array itself is replaced
    * by its size, `detectionCount`, so a frame with k detections is k
    * rows of one detection each. It is the one shape the Doris branch
    * is projected from ([[dorisProjection]]) and carries every column
    * [[segmentProjection]] reads, so a sink can run it once and build
    * both branches from its rows.
    */
  private def withDetections(events: Dataset[PipelineEvent]): DataFrame =
    events.toDF().select(col("kind"), col("streamId"), col("frameId"),
      col("timestamp"), col("segment"),
      size(col("detections")).as("detectionCount"),
      explode_outer(when(col("kind") === "detection", col("detections"))).as("d"))

  /** Detection branch → flat Doris-shaped rows (ref ops F+G:
    * explode detections, flatten bbox, format time, drop empty —
    * sink/DorisSinkBuilder.java:100-124). Pure built-ins.
    */
  def dorisRows(events: Dataset[PipelineEvent]): DataFrame =
    dorisProjection(withDetections(events))

  /** The Doris rows of [[withDetections]]' rows. The filter drops the
    * `d`-null row of an empty detection event, so the result equals a
    * plain `explode` of the detection events with non-empty
    * `detections`.
    */
  private def dorisProjection(rows: DataFrame): DataFrame = {
    // date_format renders in spark.sql.session.timeZone; shift the
    // instant by the session offset first so detection_time is always
    // the UTC wall time — same pinning as segmentPath above.
    // Documented divergence: the reference formats in the JVM DEFAULT
    // timezone (DorisSinkBuilder.convertToJson's SimpleDateFormat) —
    // deployment-dependent output we deliberately pin to UTC for
    // determinism. Caveat of the shift-then-format composition: for
    // instants inside a DST transition window of a DST-observing
    // session tz it is off by the DST delta; harness sessions run
    // pinned UTC (Verify sets spark.sql.session.timeZone=UTC), where
    // the composition is exact.
    val sessionTz = rows.sparkSession.conf.get("spark.sql.session.timeZone")
    rows.filter(col("kind") === "detection" && col("detectionCount") > 0)
      .select(col("streamId").as("stream_id"),
        date_format(
          to_utc_timestamp(timestamp_millis(col("timestamp")), sessionTz),
          "yyyy-MM-dd HH:mm:ss").as("detection_time"),
        col("frameId").as("frame_id"),
        col("d.objectClass").as("object_class"),
        col("d.confidence").as("confidence"),
        col("d.bbox.x1").as("bbox_x1"), col("d.bbox.y1").as("bbox_y1"),
        col("d.bbox.x2").as("bbox_x2"), col("d.bbox.y2").as("bbox_y2"),
        lit("").as("frame_url"))
  }

  /** Detection rows → the exact JSON-lines wire the Doris Stream-Load
    * sink posts (field names/order: sink/DorisSinkBuilder.java:109-120;
    * escaping is to_json's — the reference hand-escapes, :129-136).
    */
  def dorisJsonLines(events: Dataset[PipelineEvent]): DataFrame =
    dorisRows(events).select(to_json(struct(
      col("stream_id"), col("detection_time"), col("frame_id"),
      col("object_class"), col("confidence"),
      col("bbox_x1"), col("bbox_y1"), col("bbox_x2"), col("bbox_y2"),
      col("frame_url"))).as("value"))

  /** Segment branch → segment descriptor rows (ref side output → OSS
    * sink, model/VideoSegment.java:17-55).
    */
  def segmentRows(events: Dataset[PipelineEvent]): DataFrame =
    segmentProjection(events.toDF())

  /** The segment rows of events, or of [[withDetections]]' rows. */
  private def segmentProjection(rows: DataFrame): DataFrame =
    rows.filter(col("kind") === "segment")
      .select(col("streamId").as("stream_id"),
        col("segment.startTime").as("start_time"),
        col("segment.endTime").as("end_time"),
        col("segment.localFilePath").as("path"),
        col("segment.frameCount").as("frame_count"),
        col("segment.fileSize").as("file_size"),
        col("segment.duration").as("duration_ms"))

  /** Streaming exact dedup on (streamId, frameId) — at-least-once
    * sources (the reference's Kafka ingest, op A) can redeliver
    * frames; this drops redeliveries whose event time falls within
    * the watermark horizon, with bounded state (keys older than the
    * watermark are evicted — unbounded-state dropDuplicates is not an
    * option on an infinite stream).
    */
  def dedupFrames(frames: Dataset[VideoFrame],
      lateness: String = "30 seconds"): Dataset[VideoFrame] = {
    import frames.sparkSession.implicits._
    frames
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("streamId", "frameId")
      .drop("ts")
      .as[VideoFrame]
  }

  /** Spark 4 `transformWithState` form of [[process]] — the same pure
    * fold behind the new StatefulProcessor API (SURVEY.md §7.1's
    * stated target). Differences from flatMapGroupsWithState: typed
    * named state handles (multiple states, TTL, timers available) and
    * a state store contract that supports the RocksDB provider's
    * changelog checkpointing. Streaming-only (the classic API remains
    * the batch path).
    */
  class VideoStatefulProcessor(cfg: EngineConfig,
      detector: VideoFrame => Seq[Detection])
      extends StatefulProcessor[String, VideoFrame, PipelineEvent] {
    @transient private var state: ValueState[StreamState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StreamState]("pipelineState",
        Encoders.product[StreamState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[VideoFrame],
        timerValues: TimerValues): Iterator[PipelineEvent] = {
      val sorted = rows.toSeq.sortBy(f => (f.timestamp, f.frameId))
      val st = if (state.exists()) state.get() else initialState
      val (events, next) = processFrames(key, sorted, st, cfg, detector)
      state.update(next)
      events.iterator
    }
  }

  /** [[process]] via transformWithState (streaming queries only; needs
    * the RocksDB state store provider for production checkpointing).
    */
  def processTWS(frames: Dataset[VideoFrame],
      cfg: EngineConfig = EngineConfig(),
      detector: VideoFrame => Seq[Detection] = null): Dataset[PipelineEvent] = {
    import frames.sparkSession.implicits._
    val det = if (detector == null) defaultDetector(cfg) else detector
    frames.groupByKey(_.streamId)
      .transformWithState(new VideoStatefulProcessor(cfg, det),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming twin of the tumbling segmentation (q10) as a
    * watermarked windowed aggregation: event-time 3-minute windows per
    * stream, closed (and emitted, in append mode) once the watermark
    * passes window end. The reference runs NO watermarks
    * (VideoStreamProcessingJob.java:61) and silently distorts segments
    * under disorder (SURVEY.md §2 streaming notes); this operator is
    * the documented-intent fix: bounded disorder tolerance with
    * deterministic late-frame drop. State per (stream, window) is the
    * aggregate only — O(1), never buffered frames.
    */
  def segmentSummaries(frames: Dataset[VideoFrame],
      lateness: String = "30 seconds"): DataFrame =
    frames.toDF()
      .select(col("streamId"), timestamp_millis(col("timestamp")).as("ts"),
        col("frameData"))
      .withWatermark("ts", lateness)
      .groupBy(col("streamId"), window(col("ts"), "3 minutes"))
      .agg(count(lit(1)).as("frame_count"),
        sum(length(col("frameData"))).as("byte_count"),
        min(unix_millis(col("ts"))).as("first_ts"),
        max(unix_millis(col("ts"))).as("last_ts"))
      .select(col("streamId").as("stream_id"),
        unix_millis(col("window.start")).as("window_start"),
        col("frame_count"), col("byte_count"), col("first_ts"),
        col("last_ts"))

  /** End-to-end streaming wiring (ref job DAG,
    * VideoStreamProcessingJob.java:56-102): one stateful pass, both
    * branches written per micro-batch from the SAME foreachBatch (one
    * state store, no second query re-running the fold). A micro-batch
    * runs one Spark job, the fold; both sink files are written on the
    * driver (see [[writeEventBatch]]). The fold's input stage runs at
    * most one task per core, whatever the number of source partitions
    * in the batch.
    *
    * Sink layout: `<outDir>/detections/batch_id=<id>/` and
    * `<outDir>/segments/batch_id=<id>/`, one directory per micro-batch,
    * each holding one `part-00000` parquet file and its own `_SUCCESS`.
    * Reading `<outDir>/detections` sees `batch_id` as a partition
    * column.
    *
    * Idempotence under micro-batch retry: foreachBatch is at-least-once
    * (a crash between write and checkpoint-commit replays the batch —
    * same batchId, same data), so plain `append` would duplicate rows.
    * Each batch instead replaces its own `batch_id=<id>` directory
    * and nothing else, so a replay replaces exactly the rows it wrote
    * before, making the sink effectively exactly-once. This is the
    * Spark-native equivalent of the reference sink's retry story
    * (DorisSinkBuilder.java:62-95 retries a Stream-Load under a
    * batch-scoped label so Doris dedupes the re-post; batch_id is our
    * label, the directory replacement our dedupe).
    */
  def runStreaming(frames: Dataset[VideoFrame], outDir: String,
      checkpointDir: String, cfg: EngineConfig = EngineConfig()) = {
    // One input task per core, not one per source partition: a
    // micro-batch gathers many small partitions (a MemoryStream add,
    // a Kafka partition's slice), and each task pays fixed costs
    // (task setup, per-task code generation, one shuffle file per
    // output partition) that dwarf its few rows.
    val events = process(frames.coalesce(frames.sparkSession.sparkContext.defaultParallelism), cfg)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[PipelineEvent], batchId: Long) =>
        writeEventBatch(batch, batchId, outDir)
      }
      .start()
  }

  /** One micro-batch → both sinks; idempotent under same-batchId replay
    * (see [[runStreaming]]'s contract note). Public so the replay
    * semantics are testable without orchestrating a mid-batch crash.
    *
    * One Spark job: `withDetections(batch)` is collected once, which
    * runs the fold. The collect is bounded per detection row: events
    * carry no frame bytes, and a frame yields at most one row per
    * detection if it is a keyframe (one if it has none) plus one for
    * the segment it closes, so the rows are at most the frames one
    * trigger admits (the source's per-trigger limit, e.g. Kafka's
    * `maxOffsetsPerTrigger`) times the detector's most detections per
    * frame plus one. A row holds one detection, never its event's
    * whole `detections` array.
    *
    * Both branches are then projected from those rows as a local
    * relation, which the optimizer folds to local rows without a job,
    * and each is written on the calling thread as one parquet file
    * (see [[writeLocal]]). Both branches are attempted; a failure of
    * either is rethrown after the other has been written or has
    * failed, the other's failure attached as suppressed.
    */
  def writeEventBatch(batch: Dataset[PipelineEvent], batchId: Long,
      outDir: String): Unit = {
    val rows = withDetections(batch)
    val local = batch.sparkSession.createDataFrame(rows.collectAsList(), rows.schema)
    val failures = Seq("detections" -> dorisProjection _, "segments" -> segmentProjection _)
      .flatMap { case (branch, project) =>
        try { writeLocal(project(local), s"$outDir/$branch/batch_id=$batchId"); None }
        catch { case NonFatal(t) => Some(t) }
      }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Writes `df`'s rows on the calling thread as the one file
    * `<dir>/part-00000<ext>`, with Spark's own parquet writer, then
    * `_SUCCESS`. `dir` is cleared first, so a replay replaces it whole.
    * The file is written under a `_`-prefixed name, which readers skip,
    * and renamed into place once complete. `df` should fold to a local
    * relation; otherwise collecting it runs a job. `file:` paths go
    * through [[NioLocalFileSystem]], bound by a Hadoop configuration
    * built for this write only; the session's is untouched. The write
    * opens a FileSystem instance of its own and closes only that one:
    * the cached instances of other schemes (hdfs:, s3a:) are shared
    * with the rest of the JVM and stay open.
    */
  private def writeLocal(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val rows = df.queryExecution.executedPlan.executeCollect()
    val schema = df.schema
    val conf = spark.sessionState.newHadoopConfWithOptions(NioLocalFileSystem.writeOptions)
    val path = new Path(dir)
    val fs = FileSystem.newInstance(path.toUri, conf)
    try {
      fs.delete(path, true)
      if (!fs.mkdirs(path)) throw new IOException(s"cannot create $path")
      val job = Job.getInstance(conf)
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      val name = s"part-00000${factory.getFileExtension(ctx)}"
      val tmp = new Path(path, s"_$name")
      val out = factory.newInstance(tmp.toString, schema, ctx)
      try rows.foreach(out.write) finally out.close()
      if (!fs.rename(tmp, new Path(path, name)))
        throw new IOException(s"cannot rename $tmp into place")
      fs.create(new Path(path, "_SUCCESS")).close()
    } finally fs.close()
  }
}
