package perfbench

import java.io.{File, PrintWriter}

/** Command-line options; `run.py` passes them through. */
final case class Opts(
    mode: String = "run",          // run | prepare | record
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    tiny: Boolean = false,         // small inputs for the self-check
    plant: String = "",            // planted wrong answer: digest | latch
    data: String = "",             // analytics fixture directory
    digests: String = "",          // expected analytics digests (TSV)
    out: String = "",              // where results and span files go
    work: String = "")             // scratch directory of this run

object Opts {
  def parse(args: Array[String]): Opts = {
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--mode" :: v :: t => go(t, o.copy(mode = v))
      case "--workload" :: v :: t => go(t, o.copy(workload = v))
      case "--seed" :: v :: t => go(t, o.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, o.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => go(t, o.copy(trace = v == "1"))
      case "--tiny" :: t => go(t, o.copy(tiny = true))
      case "--plant" :: v :: t => go(t, o.copy(plant = v))
      case "--data" :: v :: t => go(t, o.copy(data = v))
      case "--digests" :: v :: t => go(t, o.copy(digests = v))
      case "--out" :: v :: t => go(t, o.copy(out = v))
      case "--work" :: v :: t => go(t, o.copy(work = v))
      case other :: _ => throw new IllegalArgumentException(s"unknown option $other")
    }
    go(args.toList, Opts())
  }
}

/** Entry point of the benchmark JVM. `--mode prepare` writes the analytics
  * fixture tables and loads the workloads' classes, `--mode record` prints
  * the analytics digests of the current engine, and `--mode run` runs one
  * workload and prints its report and one `PERFBENCH_RESULT {json}` line
  * for `run.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    if (opts.mode == "prepare") {
      try Fixtures.prepare(opts)
      catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(2) }
      // a normal exit, not halt: the JVM writes its class-data archive on exit
      System.exit(0)
    }
    val code =
      try opts.mode match {
        case "record" => AnalyticsWorkload.record(opts); 0
        case "run" => run(opts)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is printed, so end here
    Runtime.getRuntime.halt(code)
  }

  private def run(opts: Opts): Int = {
    val runId = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    val work = new File(opts.work)
    work.mkdirs()
    val ctx = new RunContext(opts, new Tracer(opts.trace, runId), work)
    opts.workload match {
      case "crowd_stream" => CrowdStream.run(ctx)
      case "analytics_multijob" => AnalyticsWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val correct = ctx.problems.isEmpty
    ctx.problems.foreach(p => System.out.println(s"CHECK FAILED: $p"))
    ctx.report.foreach(l => System.out.println(s"report: $l"))
    val metrics = ctx.metrics.toSeq.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    val result = s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{$metrics}}"""
    if (opts.out.nonEmpty) {
      val dir = new File(opts.out)
      if (opts.trace) ctx.tracer.write(new File(dir, s"spans/$runId.jsonl"))
      new File(dir, "results").mkdirs()
      val w = new PrintWriter(new File(dir, s"results/$runId.json"), "UTF-8")
      try w.println(result) finally w.close()
    }
    System.out.println(s"PERFBENCH_RESULT $result")
    if (correct && ctx.failed == 0) 0 else 1
  }
}
