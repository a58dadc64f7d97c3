package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.io.Source

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `analytics_multijob`: a frozen list of `SparkEntry.benchShapes`
  * queries run in closed loop by one client into the noop sink, one pass
  * after another. The seed sets the query order
  * within each pass. An untimed first pass checks every query's row count
  * and order-independent row hash against the recorded digests. */
object AnalyticsWorkload {

  /** Queries of ten or more Spark jobs each: a graph peel loop,
    * connected-component dedup and an iterative statistic. */
  val queries: Seq[String] = Seq("q_kcore", "q_dedup_decisions", "q_kendall")

  /** Untimed passes set-up runs before timing starts: at least the number
    * after which, in sizing, pass time had stopped falling by more than a
    * few percent a minute, and at most the larger one. */
  private val WarmPassesMin = 12
  private val WarmPassesMax = 16

  /** The median of the last three passes is within 5% of the median of the
    * three before them. Single passes vary by ±10%, so a settled run is told
    * by windows of passes, not by two passes agreeing. */
  private def settled(passes: Seq[Double]): Boolean =
    passes.size >= 6 &&
      Stats.median(passes.takeRight(3)) >= 0.95 * Stats.median(passes.dropRight(3).takeRight(3))

  private def scale(opts: Opts): String = if (opts.tiny) "tiny" else "full"

  /** Row count and the sum of per-row hashes (order-independent). Rows go
    * through `to_json` so that every column type, maps included, hashes. */
  def digest(df: DataFrame): (Long, String) = {
    val row = df.select(xxhash64(to_json(struct(df.columns.toIndexedSeq.map(df.col): _*))).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0))))
      .head()
    (row.getLong(0), row.getDecimal(1).toBigInteger.toString)
  }

  private def loadDigests(path: String, scale: String): Map[String, (Long, String)] = {
    if (!new File(path).isFile) return Map.empty
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t")).collect {
      case Array(s, q, n, h) if s == scale => q -> (n.toLong, h)
    }.toMap
    finally src.close()
  }

  private def runQuery(spark: SparkSession, dir: String, q: String): Unit =
    try SparkEntry.benchShapes(q)(spark, dir).write.format("noop").mode("overwrite").save()
    finally spark.catalog.clearCache()

  /** Prints the digests of the list on the fixture tables and rewrites
    * this scale's lines of the digest file. Each query runs twice and must
    * agree with itself, or it is not fit for a digest check. */
  def record(opts: Opts): Unit = {
    val ctx = new RunContext(opts, new Tracer(false, "record"), new File(opts.work))
    val spark = ctx.session()
    val s = scale(opts)
    val lines = queries.map { q =>
      val a = try digest(SparkEntry.benchShapes(q)(spark, opts.data)) finally spark.catalog.clearCache()
      val b = try digest(SparkEntry.benchShapes(q)(spark, opts.data)) finally spark.catalog.clearCache()
      require(a == b, s"$q is not deterministic: $a vs $b")
      s"$s\t$q\t${a._1}\t${a._2}"
    }
    val file = new File(opts.digests)
    val kept =
      if (file.isFile) {
        val src = Source.fromFile(file, "UTF-8")
        try src.getLines().filterNot(_.startsWith(s"$s\t")).toList finally src.close()
      } else Nil
    val w = new PrintWriter(file, "UTF-8")
    try (kept ++ lines).foreach(w.println) finally w.close()
    lines.foreach(println)
  }

  def run(ctx: RunContext): Unit = {
    val opts = ctx.opts
    val spark = ctx.session()
    val sc = spark.sparkContext
    val dir = opts.data

    // set-up: a first pass computes each query's digest and warms the JIT
    val expected = loadDigests(opts.digests, scale(opts))
    queries.zipWithIndex.foreach { case (q, i) =>
      ctx.attempted += 1
      try {
        val got = try digest(SparkEntry.benchShapes(q)(spark, dir)) finally spark.catalog.clearCache()
        val want = expected.get(q).map { case (n, h) =>
          if (opts.plant == "digest" && i == 0) (n, (BigInt(h) + 1).toString) else (n, h)
        }
        ctx.check(want.contains(got), s"$q digest $got, expected ${want.getOrElse("none recorded")}")
      } catch {
        case e: Exception =>
          ctx.failed += 1
          ctx.check(ok = false, s"$q failed in the digest pass: ${e.getMessage}")
      }
    }

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    queries.foreach(q => times(q) = mutable.ArrayBuffer.empty)
    val jobsPerQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    /** One pass over the list in the seed's order for this pass; returns its seconds. */
    def pass(i: Int, timed: Boolean): Double = {
      val order = new scala.util.Random(opts.seed * 1000003L + i).shuffle(queries)
      val p0 = System.nanoTime()
      ctx.tracer.span(s"pass-$i", "bench") { passId =>
        order.foreach { q =>
          ctx.attempted += 1
          val jobs0 = if (ctx.tracer.enabled) ctx.sparkTotals(spark).jobs else 0L
          val q0 = System.nanoTime()
          try ctx.tracer.span(q, "operators", passId) { id =>
            sc.setJobGroup(id, q)
            try runQuery(spark, dir, q) finally sc.clearJobGroup()
          } catch {
            case e: Exception =>
              ctx.failed += 1
              ctx.check(ok = false, s"$q failed: ${e.getMessage}")
          }
          if (timed) {
            times(q) += (System.nanoTime() - q0) / 1e9
            if (ctx.tracer.enabled)
              jobsPerQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
                (ctx.sparkTotals(spark).jobs - jobs0).toDouble
          }
        }
      }
      (System.nanoTime() - p0) / 1e9
    }
    // untimed passes until the pass time settles: the digest pass ran
    // different plans, and the JIT keeps speeding passes up for a while
    val warm = mutable.ArrayBuffer.empty[Double]
    val (warmMin, warmMax) = if (opts.tiny) (2, 2) else (WarmPassesMin, WarmPassesMax)
    while (warm.size < warmMin || (warm.size < warmMax && !settled(warm.toSeq)))
      warm += pass(-1 - warm.size, timed = false)
    System.gc() // start the timed phase on a collected heap
    val setupS = ctx.secondsSinceJvmStart()

    // timed phase: whole passes in closed loop until the time is used
    val before = ctx.sparkTotals(spark)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passTimes.isEmpty || elapsed + passTimes.last / 2 < opts.seconds)
      passTimes += pass(passTimes.size, timed = true)
    val wall = elapsed
    val delta = ctx.sparkTotals(spark) - before
    val heap = ctx.retainedHeapMb()

    val perQuery = times.map { case (q, ts) => q -> Stats.median(ts.toSeq) }
    val geomeanS = Stats.geomean(perQuery.values.toSeq)
    val m = ctx.metrics
    m.put("setup_s", setupS, "s")
    m.put("latency_ms", geomeanS * 1000.0, "ms")
    m.put("throughput_per_s", queries.size / Stats.median(passTimes.toSeq), "1/s")
    m.put("heap_retained_mb", heap, "MB")
    ctx.report += f"pass_s=${Stats.median(passTimes.toSeq)}%.4f s (median of ${passTimes.size} passes: " +
      passTimes.map(t => f"$t%.2f").mkString(" ") + ")"
    ctx.report += s"warm passes: ${warm.map(t => f"$t%.2f").mkString(" ")}"
    ctx.report += f"query_geomean_s=$geomeanS%.4f s (${queries.size} queries)"
    ctx.report += f"failed_frac=${ctx.failed.toDouble / ctx.attempted}%.4f (${ctx.failed} of ${ctx.attempted})"
    if (ctx.tracer.enabled) {
      ctx.putSparkLayer(delta, wall)
      perQuery.foreach { case (q, s) =>
        m.put(s"operators.$q.s", s, "s")
        m.put(s"operators.$q.jobs", Stats.median(jobsPerQuery(q).toSeq), "count")
      }
    }
  }
}
