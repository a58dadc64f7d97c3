package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.Nms
import graft.pipeline.CrowdPipeline
import graft.streaming.{Alert, AlarmLatch, FireSignal}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** One camera frame as the stream carries it. */
final case class Frame(camera_id: String, frame_id: Long, ts: Timestamp, image: Array[Byte])

/** A frame without its payload. The source carries keys only and the
  * payload is made from the seed and the frame id in the source's tasks,
  * so micro-batch tasks do not ship the payload bytes, and the batch
  * check can rebuild every frame. */
final case class FrameKey(camera_id: String, frame_id: Long, ts: Timestamp)

/** `crowd_stream`: seeded frames of 8 cameras flow through
  * `scoreBatched` → `personCounts` → fire signal → `AlarmLatch` → a
  * `foreachBatch` sink. Phase (a) offers frames at a fixed rate (open
  * loop; latency counts from each frame's due time), phase (b) feeds a
  * fixed number of frames per micro-batch and waits for each (closed
  * loop). The source is a MemoryStream with a fixed partition count, so
  * the generator's tick does not set the number of source tasks. */
object CrowdStream {
  val Cameras = 8
  /** The reference's inference input: a 416×416 RGB frame, one byte per
    * channel (BASELINE.md, "inference input size"). */
  val PayloadBytes: Int = 416 * 416 * 3
  /** The reference's implied camera rate (SURVEY §6: camera rate,
    * nominally 30 fps). */
  val CameraFps = 30
  /** Due-time step between frames of a closed-loop batch: 1 ms per camera. */
  private val ClosedStepUs = 1000L / Cameras

  /** `rate` is the open loop's offered frames per second over all cameras,
    * `batchFrames` the frames of one closed-loop micro-batch. */
  private final case class Sizes(rate: Int, batchFrames: Int, warmBatches: Int,
                                 warmOpenSeconds: Double)
  /** Open loop: every fourth frame of each camera (7.5 fps × 8 cameras),
    * well inside what the task threads can score; the full camera rate is
    * beyond it (see the README's sizing). Closed loop: one second of all
    * cameras at camera rate per micro-batch. */
  private val full = Sizes(rate = Cameras * CameraFps / 4, batchFrames = Cameras * CameraFps,
    warmBatches = 3, warmOpenSeconds = 2.0)
  private val tiny = Sizes(rate = 40, batchFrames = 40, warmBatches = 2, warmOpenSeconds = 0.5)

  def payload(seed: Long, frameId: Long): Array[Byte] = {
    val b = new Array[Byte](PayloadBytes)
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + frameId).nextBytes(b)
    b
  }

  private def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }
  private def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** The latch twin of the planted-fault self-check: alerts on every
    * `fire = true` instead of on rising edges only. */
  private def everyFire(signals: Dataset[FireSignal]): Dataset[Alert] =
    signals.filter(_.fire).map(s => Alert(s.camera_id, s.ts))(Encoders.product[Alert])

  private def frames(keys: Dataset[FrameKey], seed: Long): DataFrame =
    keys.map(k => Frame(k.camera_id, k.frame_id, k.ts, payload(seed, k.frame_id)))(Encoders.product[Frame])
      .toDF()

  private def signals(spark: SparkSession, frames: DataFrame): Dataset[FireSignal] =
    CrowdPipeline.personCounts(CrowdPipeline.scoreBatched(frames))
      .select(col("camera_id"), col("ts"), col("crowded").as("fire"))
      .as[FireSignal](Encoders.product[FireSignal])

  /** Frames from the generator, with ids and due times handed out in order. */
  private final class Generator {
    private var nextId = 0L
    val keys = mutable.ArrayBuffer.empty[FrameKey]
    def frame(dueUs: Long): FrameKey = {
      val k = FrameKey(s"cam${nextId % Cameras}", nextId, timestamp(dueUs))
      nextId += 1
      keys += k
      k
    }
    def count: Long = nextId
  }

  private final case class SinkBatch(batchId: Long, emitMs: Double, alerts: Seq[Alert])

  def run(ctx: RunContext): Unit = {
    val opts = ctx.opts
    val size = if (opts.tiny) tiny else full
    val threads = ctx.threads
    val spark = ctx.session()
    val gen = new Generator
    val keyEnc = Encoders.product[FrameKey]
    val mem = MemoryStream[FrameKey](spark, threads)(keyEnc)
    val framesOut = spark.sparkContext.longAccumulator("frames_out")
    val sig = signals(spark, frames(mem.toDS(), opts.seed))
      .map { s => framesOut.add(1); s }(Encoders.product[FireSignal])
    val alerts = if (opts.plant == "latch") everyFire(sig) else AlarmLatch(sig)
    val sink = new ConcurrentLinkedQueue[SinkBatch]
    val query = alerts.writeStream
      .outputMode("append")
      .option("checkpointLocation", new java.io.File(ctx.work, "crowd-ck").getPath)
      .foreachBatch { (ds: Dataset[Alert], id: Long) =>
        val rows = ds.collect().toSeq
        sink.add(SinkBatch(id, Clock.nowMs, rows))
        ()
      }
      .start()

    // due times of consecutive frames of one camera lie at least 1 ms
    // apart, because the latch orders a camera's frames by millisecond
    var clockUs = (Clock.nowMs * 1000).toLong
    /** One closed-loop micro-batch; returns its seconds. */
    def closedBatch(): Double = {
      val t0 = System.nanoTime()
      val frames = (0 until size.batchFrames).map { _ => clockUs += ClosedStepUs; gen.frame(clockUs) }
      mem.addData(frames)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }

    var backlogMax = 0L
    /** Offers frames at the fixed rate for `seconds`, each stamped with its
      * due time, then waits until all are processed. Returns the interval
      * of due times offered and the generator's largest lateness. */
    def openLoop(name: String, seconds: Double): (Long, Long, Double, Double, Double) = {
      val periodUs = 1e6 / size.rate
      val t0Us = math.max((Clock.nowMs * 1000).toLong + 20000L, clockUs + 1000L)
      val n = (seconds * size.rate).toLong
      def dueUs(k: Long) = t0Us + (k * periodUs).toLong
      var lateMaxMs = 0.0
      val rowsBefore = ctx.streamTap.rowsDone.get
      val addedBefore = gen.count
      val start = Clock.nowMs
      ctx.tracer.span(name, "bench") { _ =>
        var k = 0L
        while (k < n) {
          val nowUs = (Clock.nowMs * 1000).toLong
          val due = mutable.ArrayBuffer.empty[FrameKey]
          while (k < n && dueUs(k) <= nowUs) { due += gen.frame(dueUs(k)); k += 1 }
          if (due.nonEmpty) {
            lateMaxMs = math.max(lateMaxMs, (nowUs - micros(due.head.ts)) / 1000.0)
            mem.addData(due.toSeq)
            if (ctx.tracer.enabled)
              backlogMax = math.max(backlogMax,
                (gen.count - addedBefore) - (ctx.streamTap.rowsDone.get - rowsBefore))
          }
          if (k < n) {
            val sleepMs = (dueUs(k) - (Clock.nowMs * 1000).toLong) / 1000L
            if (sleepMs > 0) Thread.sleep(sleepMs)
          }
        }
        query.processAllAvailable()
      }
      clockUs = dueUs(n - 1)
      (t0Us, dueUs(n - 1), lateMaxMs, start, Clock.nowMs)
    }

    // set-up: closed-loop batches, then open loop at the timed rate, until
    // the stream has settled
    val warm0 = Clock.nowMs
    ctx.tracer.span("warmup", "bench")(_ => (0 until size.warmBatches).foreach(_ => closedBatch()))
    openLoop("warmup_open_loop", size.warmOpenSeconds)
    val warmEnd = Clock.nowMs
    backlogMax = 0L
    System.gc() // start the timed phase on a collected heap
    val setupS = ctx.secondsSinceJvmStart()
    val before = ctx.sparkTotals(spark)
    val timed0 = System.nanoTime()

    // phase (a): open loop at a fixed offered rate
    val (t0Us, lastDueAUs, lateMaxMs, aStart, aEnd) = openLoop("open_loop", opts.seconds * 0.5)

    // phase (b): closed loop, a fixed number of frames per micro-batch
    clockUs = math.max(clockUs + 1000L, (Clock.nowMs * 1000).toLong)
    val bStart = System.nanoTime()
    val bTimes = mutable.ArrayBuffer.empty[Double]
    ctx.tracer.span("closed_loop", "bench") { _ =>
      while (bTimes.size < 3 || (System.nanoTime() - bStart) / 1e9 < opts.seconds * 0.5)
        bTimes += closedBatch()
    }
    val wall = (System.nanoTime() - timed0) / 1e9
    val delta = ctx.sparkTotals(spark) - before
    val heap = ctx.retainedHeapMb()
    val bStop = Clock.nowMs
    val framesPerS = size.batchFrames / Stats.median(bTimes.toSeq)

    val progress = ctx.streamTap.progress.asScala.toSeq.filter(_.id == query.id)
    val queryFailed = query.exception.isDefined
    query.stop()

    // latency of phase (a) alerts: due time of the raising frame → emission
    val sinkBatches = sink.asScala.toSeq
    val lat = for {
      b <- sinkBatches
      a <- b.alerts
      us = micros(a.ts)
      if us >= t0Us && us <= lastDueAUs
    } yield b.emitMs - us / 1000.0
    ctx.attempted += progress.size max sinkBatches.size
    if (queryFailed) {
      ctx.failed += 1
      ctx.check(ok = false, s"stream failed: ${query.exception.get.getMessage}")
    }
    ctx.check(lat.size >= 10, s"only ${lat.size} alerts in the open loop")

    // correctness: streamed alerts ≡ AlarmLatch in batch over the same frames
    val streamed = sinkBatches.flatMap(_.alerts).map(a => (a.camera_id, micros(a.ts)))
    val expected = AlarmLatch(signals(spark, frames(spark.createDataset(gen.keys.toSeq)(keyEnc), opts.seed)))
      .collect()
      .map(a => (a.camera_id, micros(a.ts)))
    ctx.check(streamed.size == streamed.toSet.size, "an alert was emitted twice")
    ctx.check(streamed.toSet == expected.toSet,
      s"streamed alerts (${streamed.size}) differ from the batch latch (${expected.length})")
    ctx.check(framesOut.value == gen.count,
      s"frames out ${framesOut.value} != frames in ${gen.count}")

    val m = ctx.metrics
    m.put("setup_s", setupS, "s")
    if (lat.nonEmpty) m.put("latency_ms", Stats.median(lat), "ms")
    m.put("throughput_per_s", framesPerS, "1/s")
    m.put("heap_retained_mb", heap, "MB")
    if (lat.nonEmpty) ctx.report += f"alert_latency_p50_ms=${Stats.median(lat)}%.3f ms (${lat.size} alerts)"
    Stats.tailPercentile(lat.size).foreach { p =>
      ctx.report += f"alert_latency_p${p}_ms=${Stats.quantile(lat, p / 100.0)}%.3f ms (${lat.size} alerts)"
    }
    ctx.report += f"frames_per_s=$framesPerS%.1f 1/s (median of ${bTimes.size} batches of ${size.batchFrames}: " +
      bTimes.map(t => f"$t%.2f").mkString(" ") + " s)"
    ctx.report += f"offered_rate=${size.rate} frames/s, generator late max $lateMaxMs%.2f ms"
    ctx.report += f"failed_frac=${ctx.failed.toDouble / math.max(1L, ctx.attempted)}%.4f"

    if (ctx.tracer.enabled) {
      val alertsByBatch = sinkBatches.map(b => b.batchId -> b.alerts).toMap
      StreamLayer.traceBatches(ctx, progress, Seq("warmup" -> (warm0, warmEnd),
        "open_loop" -> (aStart, aEnd), "closed_loop" -> (aEnd, bStop))) { (p, start) =>
        // only open-loop frames carry due times; closed-loop batches do not wait
        val waits =
          if (start < aStart || start > aEnd) Nil
          else alertsByBatch.getOrElse(p.batchId, Nil).map(a => start - micros(a.ts) / 1000.0)
        if (waits.isEmpty) 0.0 else math.max(0.0, Stats.median(waits))
      }
      val aProgress = progress.filter { p =>
        val s = StreamLayer.startMs(p)
        s >= aStart && s <= aEnd && p.numInputRows > 0
      }
      StreamLayer.put(ctx, aProgress)
      ctx.putSparkLayer(delta, wall)
      m.put("sources.gen_late_ms_max", lateMaxMs, "ms")
      m.put("sources.backlog_frames_max", backlogMax.toDouble, "count")
      stagedPipeline(ctx, spark, threads, size)
      kernels(ctx)
      spark.stop()
      m.put("pipeline.frames_per_s_1core", oneCore(ctx, size), "1/s")
    }
  }

  /** The pipeline's stages priced by difference: three closed-loop streams
    * over the same frames, score only, then with counts, then with the
    * latch. Each ends in a small projection, so none carries the payload
    * further than the full pipeline does. The streams take their batches
    * in turn, so a slow spell of the machine falls on all three, and each
    * reports its median batch, in ms per 1000 frames. */
  private def stagedPipeline(ctx: RunContext, spark: SparkSession, threads: Int, size: Sizes): Unit = {
    val seed = ctx.opts.seed + 7919L
    val gen = new Generator
    var us = (Clock.nowMs * 1000).toLong
    val batches = Seq.fill(6)(Seq.fill(size.batchFrames) { us += ClosedStepUs; gen.frame(us) })
    val stages = Seq[(String, DataFrame => DataFrame)](
      "score" -> (df => CrowdPipeline.scoreBatched(df)
        .select(col("camera_id"), col("ts"), org.apache.spark.sql.functions.size(col("dets")).as("dets"))),
      "score_counts" -> (df => signals(spark, df).toDF()),
      "score_counts_latch" -> (df => AlarmLatch(signals(spark, df)).toDF()))
    val streams = stages.map { case (name, build) =>
      val mem = MemoryStream[FrameKey](spark, threads)(Encoders.product[FrameKey])
      val q = build(frames(mem.toDS(), seed)).writeStream
        .option("checkpointLocation", new java.io.File(ctx.work, s"ck-$name").getPath)
        .foreachBatch { (ds: Dataset[org.apache.spark.sql.Row], _: Long) =>
          ds.write.format("noop").mode("overwrite").save()
        }
        .start()
      (name, mem, q)
    }
    val times = streams.map(_ => mutable.ArrayBuffer.empty[Double])
    try batches.zipWithIndex.foreach { case (b, i) =>
      streams.zip(times).foreach { case ((name, mem, q), ts) =>
        ctx.tracer.span(name, "pipeline") { _ =>
          val t0 = System.nanoTime()
          mem.addData(b)
          q.processAllAvailable()
          if (i > 0) ts += (System.nanoTime() - t0) / 1e6 / (b.size / 1000.0) // the first is warm-up
        }
      }
    } finally streams.foreach(_._3.stop())
    val Seq(score, counts, latch) = times.map(ts => Stats.median(ts.toSeq))
    ctx.metrics.put("pipeline.score_ms", score, "ms")
    ctx.metrics.put("pipeline.counts_ms", counts - score, "ms")
    ctx.metrics.put("pipeline.latch_ms", latch - counts, "ms")
  }

  /** Direct single-thread calls to the scorer and to NMS on this
    * workload's payloads. */
  private def kernels(ctx: RunContext): Unit = {
    val n = if (ctx.opts.tiny) 10 else 100
    val payloads = (0 until n).map(i => payload(ctx.opts.seed + 104729L, i.toLong))
    payloads.take(n / 5).foreach(CrowdPipeline.scoreHeavy) // JIT warm-up
    val (dets, scoreUs) = ctx.tracer.span("scoreHeavy", "pipeline") { _ =>
      val t0 = System.nanoTime()
      val d = payloads.map(CrowdPipeline.scoreHeavy)
      (d, (System.nanoTime() - t0) / 1e3 / n)
    }
    val persons = dets.map(_.filter(_.class_id == 0))
    def keep(ps: Seq[graft.pipeline.Det]): Seq[Int] =
      Nms.keepIndices(ps.map(_.x), ps.map(_.y), ps.map(_.w), ps.map(_.h), ps.map(_.conf), 0.5, 0.3)
    val reps = 1000
    persons.foreach(keep)
    val nmsUs = ctx.tracer.span("keepIndices", "operators") { _ =>
      val t0 = System.nanoTime()
      var kept = 0L
      (0 until reps).foreach(_ => persons.foreach(p => kept += keep(p).size))
      require(kept >= 0)
      (System.nanoTime() - t0) / 1e3 / (n.toLong * reps)
    }
    ctx.metrics.put("pipeline.score_heavy_us_per_frame", scoreUs, "us")
    ctx.metrics.put("operators.nms_keep_us_per_frame", nmsUs, "us")
  }

  /** Phase (b) throughput on one Spark thread: the single-core baseline. */
  private def oneCore(ctx: RunContext, size: Sizes): Double = {
    val spark = ctx.session(1)
    val gen = new Generator
    val mem = MemoryStream[FrameKey](spark, 1)(Encoders.product[FrameKey])
    val q = AlarmLatch(signals(spark, frames(mem.toDS(), ctx.opts.seed))).writeStream
      .option("checkpointLocation", new java.io.File(ctx.work, "ck-1core").getPath)
      .foreachBatch { (ds: Dataset[Alert], _: Long) => ds.collect(); () }
      .start()
    var us = (Clock.nowMs * 1000).toLong
    def batch(): Unit = {
      mem.addData(Seq.fill(size.batchFrames) { us += ClosedStepUs; gen.frame(us) })
      q.processAllAvailable()
    }
    try {
      batch(); batch()
      ctx.tracer.span("closed_loop_1core", "pipeline") { _ =>
        val t0 = System.nanoTime()
        var n = 0
        while (n < 2 || (System.nanoTime() - t0) / 1e9 < ctx.opts.seconds * 0.3) { batch(); n += 1 }
        n * size.batchFrames / ((System.nanoTime() - t0) / 1e9)
      }
    } finally q.stop()
  }
}
