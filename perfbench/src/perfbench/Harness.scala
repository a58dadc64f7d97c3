package perfbench

import java.io.{File, FileNotFoundException, PrintWriter}
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans line up with the epoch times Spark's listeners report. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6
}

/** One traced call into a layer. `waitMs` is time the work spent queued
  * before the layer started on it (0 where the layer has no queue). */
final case class Span(id: String, parent: String, name: String, layer: String,
                      startMs: Double, endMs: Double, waitMs: Double = 0.0,
                      attrs: Map[String, Double] = Map.empty)

/** In-memory span store, written once at the end of a traced run. When
  * tracing is off, `span` only runs its body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  def nextId(prefix: String): String = s"$prefix-${ids.incrementAndGet()}"

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def span[T](name: String, layer: String, parent: String = "")(body: String => T): T = {
    val id = nextId("s")
    val t0 = Clock.nowMs
    try body(id)
    finally add(Span(id, parent, name, layer, t0, Clock.nowMs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: File): Unit = {
    path.getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      w.println(s"""{"run":${Json.str(runId)},"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"wait_ms":${Json.num(s.waitMs)},"attrs":{$attrs}}""")
    }
    finally w.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

/** Totals of the Spark work seen by [[SparkTap]]; subtracting two
  * snapshots gives the work of the phase between them. */
final case class SparkTotals(jobs: Long, stages: Long, tasks: Long,
                             shuffleWrite: Long, shuffleRead: Long, spill: Long,
                             taskRunMs: Long, materializations: Long, cachedBytes: Long) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, taskRunMs - o.taskRunMs, materializations - o.materializations,
    cachedBytes - o.cachedBytes)
}

/** Spark's public listener, registered by the benchmark in traced runs
  * only. Counts jobs, stages, tasks, shuffle, spill and task run time,
  * the RDDs that were given a storage level (eager materializations), and
  * the bytes of RDD blocks stored. Each job becomes a span whose parent
  * is the micro-batch span named by its streaming query and batch id, or
  * else the benchmark span named by its job group. Its wait is the time from job start
  * to its first task launch. */
final class SparkTap(tracer: Tracer) extends SparkListener {
  private val jobs, stages, tasks, shuffleWrite, shuffleRead, spill, taskRunMs, cachedBytes =
    new AtomicLong
  private val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private final class JobInfo(val start: Double, val parent: String, val batch: String) {
    @volatile var firstTask: Double = Double.NaN
    val tasks = new AtomicLong
  }
  private val running = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]
  /** Job spans of streaming micro-batches, parented once the batch spans exist. */
  val batchJobs = new ConcurrentLinkedQueue[(String, Span)]

  def totals: SparkTotals = SparkTotals(jobs.get, stages.get, tasks.get, shuffleWrite.get,
    shuffleRead.get, spill.get, taskRunMs.get, persisted.size.toLong, cachedBytes.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = props.flatMap { p =>
      for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield s"$q-$b"
    }.getOrElse("")
    running.put(e.jobId, new JobInfo(e.time.toDouble, group, batch))
    e.stageIds.foreach(s => stageJob.put(s, Integer.valueOf(e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val info = running.remove(e.jobId)
    if (info != null) {
      val wait = if (info.firstTask.isNaN) 0.0 else math.max(0.0, info.firstTask - info.start)
      val span = Span(s"job-${e.jobId}", info.parent, "job", "spark", info.start,
        e.time.toDouble, wait, Map("tasks" -> info.tasks.get.toDouble))
      if (info.batch.nonEmpty) batchJobs.add(info.batch -> span)
      else tracer.add(span)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    e.stageInfo.rddInfos.foreach(r => if (r.storageLevel.isValid) persisted.add(r.id))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val job = stageJob.get(e.stageId)
    val info = if (job == null) null else running.get(job.intValue)
    if (info != null) {
      info.tasks.incrementAndGet()
      if (info.firstTask.isNaN) info.firstTask = e.taskInfo.launchTime.toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskRunMs.addAndGet(m.executorRunTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) cachedBytes.addAndGet(b.memSize + b.diskSize)
  }
}

/** Spark's public streaming listener: keeps every progress report so
  * the benchmark can read per-batch durations and state-store figures. */
final class StreamTap extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  val rowsDone = new AtomicLong
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress)
    rowsDone.addAndGet(e.progress.numInputRows)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The metrics one run reports, in the order they were added. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def toSeq: Seq[(String, Double, String)] = values.toSeq.map { case (k, (v, u)) => (k, v, u) }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** The highest of the usual tail percentiles that leaves at least ten
    * samples beyond it, or None when the sample is too small for any. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 98, 95, 90).find(p => n * (100 - p) / 100.0 >= 10.0)
}

/** Hadoop's raw local file system, with file status and permissions read
  * and set through java.nio. Without Hadoop's native library the stock one
  * forks a `stat` or `ls` process for the status of every file it lists
  * and a `chmod` for every file it creates: several ms each, and more as
  * the JVM's heap grows or the machine gets busy. In sizing, those forks
  * were the noisiest part of a micro-batch (checkpoint commits) and of a
  * query (listing its parquet files). */
final class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(perm.toString.takeRight(9)))

  override def getFileStatus(p: Path): FileStatus = {
    val a =
      try Files.readAttributes(pathToFile(p).toPath, classOf[PosixFileAttributes])
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    val mode = (if (a.isDirectory) "d" else "-") + PosixFilePermissions.toString(a.permissions)
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(p), a.lastModifiedTime.toMillis,
      a.lastAccessTime.toMillis, FsPermission.valueOf(mode), a.owner.getName, a.group.getName,
      p.makeQualified(getUri, getWorkingDirectory))
  }
}

/** Per-run context shared by the workloads. */
final class RunContext(val opts: Opts, val tracer: Tracer, val work: File) {
  /** Spark task threads: of at most four cores, one is left to the
    * workload's client or generator thread. */
  val threads: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) - 1)
  val metrics = new Metrics
  /** Lines of the human-readable report printed before the result. */
  val report = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  private val sparkTap = new AtomicReference[SparkTap]
  val streamTap = new StreamTap

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def session(n: Int = threads): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local files through LocalFs (above), checkpoint files renamed with
      // FileSystem.rename rather than FileContext's OVERWRITE path, which
      // forks `ls` and `chmod` processes without Hadoop's native library
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    if (tracer.enabled) {
      val tap = new SparkTap(tracer)
      sparkTap.set(tap)
      spark.sparkContext.addSparkListener(tap)
      spark.streams.addListener(streamTap)
    }
    spark
  }

  /** Listener totals once the listener bus has delivered every event. */
  def sparkTotals(spark: SparkSession): SparkTotals = Option(sparkTap.get) match {
    case Some(tap) =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      tap.totals
    case None => SparkTotals(0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  def tap: Option[SparkTap] = Option(sparkTap.get)

  /** The `spark.*` and `plans.*` per-layer metrics of one timed phase. */
  def putSparkLayer(d: SparkTotals, wallS: Double): Unit = {
    metrics.put("spark.jobs", d.jobs.toDouble, "count")
    metrics.put("spark.stages", d.stages.toDouble, "count")
    metrics.put("spark.tasks", d.tasks.toDouble, "count")
    metrics.put("spark.shuffle_write_bytes", d.shuffleWrite.toDouble, "bytes")
    metrics.put("spark.shuffle_read_bytes", d.shuffleRead.toDouble, "bytes")
    metrics.put("spark.spill_bytes", d.spill.toDouble, "bytes")
    metrics.put("spark.task_run_s", d.taskRunMs / 1000.0, "s")
    metrics.put("spark.busy_frac", d.taskRunMs / 1000.0 / (wallS * threads), "frac")
    metrics.put("plans.materializations", d.materializations.toDouble, "count")
    metrics.put("plans.cached_bytes", d.cachedBytes.toDouble, "bytes")
  }

  /** Live heap after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Seconds since the JVM started: set-up time up to the timed phase. */
  def secondsSinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Micro-batch spans and the `streaming.*` per-layer metrics, both read
  * from `StreamingQueryProgress` reports. */
object StreamLayer {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** One span per non-empty micro-batch, under the benchmark phase whose
    * interval holds its start, and each Spark job of a batch under that
    * batch. `waitOf(progress, start)` gives the batch's wait. */
  def traceBatches(ctx: RunContext, progress: Seq[StreamingQueryProgress],
                   phases: Seq[(String, (Double, Double))])
                  (waitOf: (StreamingQueryProgress, Double) => Double): Unit = {
    val phaseIds = ctx.tracer.all.filter(_.layer == "bench").map(s => s.name -> s.id).toMap
    progress.filter(_.numInputRows > 0).foreach { p =>
      val start = startMs(p)
      val phase = phases.find { case (_, (a, b)) => start >= a && start <= b }.map(_._1)
      ctx.tracer.add(Span(s"batch-${p.id}-${p.batchId}", phase.flatMap(phaseIds.get).getOrElse(""),
        "micro_batch", "streaming", start, start + dur(p, "triggerExecution"), waitOf(p, start),
        Map("rows" -> p.numInputRows.toDouble)))
    }
    ctx.tap.foreach(_.batchJobs.asScala.foreach { case (batch, job) =>
      ctx.tracer.add(job.copy(parent = s"batch-$batch"))
    })
  }

  /** Medians over the given batches (last value for the state size). */
  def put(ctx: RunContext, ps: Seq[StreamingQueryProgress]): Unit = {
    val m = ctx.metrics
    def med(f: StreamingQueryProgress => Double): Double =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(p: StreamingQueryProgress) =
      p.stateOperators.headOption.map(f).getOrElse(0.0)
    m.put("streaming.trigger_ms", med(dur(_, "triggerExecution")), "ms")
    m.put("streaming.add_batch_ms", med(dur(_, "addBatch")), "ms")
    m.put("streaming.query_planning_ms", med(dur(_, "queryPlanning")), "ms")
    m.put("streaming.wal_commit_ms", med(dur(_, "walCommit")), "ms")
    m.put("streaming.commit_offsets_ms", med(dur(_, "commitOffsets")), "ms")
    m.put("streaming.state_commit_ms", med(state(_.commitTimeMs.toDouble)), "ms")
    m.put("streaming.state_update_ms", med(state(_.allUpdatesTimeMs.toDouble)), "ms")
    m.put("streaming.state_rows", ps.lastOption.map(state(_.numRowsTotal.toDouble)).getOrElse(0.0), "count")
    m.put("streaming.state_mem_bytes",
      ps.lastOption.map(state(_.memoryUsedBytes.toDouble)).getOrElse(0.0), "bytes")
    m.put("streaming.rows_per_batch", med(_.numInputRows.toDouble), "count")
  }
}
