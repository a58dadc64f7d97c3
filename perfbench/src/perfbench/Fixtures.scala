package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable

import graft.Schemas
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Writes the analytics fixture tables (the `graft.Tables` layout: one
  * parquet per table under one directory) from a fixed seed. The shapes
  * follow FIXTURES.md: the full size has the row counts of the sf0.01
  * fixture, the tiny size those of sf0.001. The tables do not depend on
  * the workload seed, so their query digests can be recorded once.
  * Runs once per build, before any timed run. */
object Fixtures {
  private val vocab = Seq("the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream", "spark",
    "dup", "group", "query", "row", "data", "filter", "customer", "line", "value", "agg",
    "column", "vector")

  private final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
                                 lineitem: Int, events: Int, documents: Int, embeddings: Int)

  private val full = Sizes(1500, 100, 2000, 15000, 60000, 10000, 500, 500)
  private val tiny = Sizes(150, 10, 200, 1500, 6000, 1000, 500, 500)

  /** Writes both sizes under `opts.data`, then runs every workload once,
    * tiny and for a second, so that the classes the timed runs use are
    * loaded when this JVM writes its class-data archive at exit. */
  def prepare(opts: Opts): Unit = {
    val work = new File(opts.work)
    val ctx = new RunContext(opts, new Tracer(false, "prepare"), work)
    val spark = ctx.session()
    write(spark, s"${opts.data}/full", full)
    write(spark, s"${opts.data}/tiny", tiny)
    val warm = opts.copy(tiny = true, seconds = 1.0, data = s"${opts.data}/tiny")
    def run(name: String)(body: RunContext => Unit): Unit =
      body(new RunContext(warm, new Tracer(false, "prepare"), new File(work, name)))
    run("crowd")(CrowdStream.run)
    run("analytics")(AnalyticsWorkload.run)
    spark.stop()
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(base: LocalDate, plusDays: Int): Timestamp =
    Timestamp.from(base.plusDays(plusDays.toLong).atStartOfDay().toInstant(ZoneOffset.UTC))

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  private def write(spark: SparkSession, dir: String, n: Sizes): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val r = new SplittableRandom(42L)

    save("region", Schemas.region, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (name, i) => Row(i, name) })
    save("nation", Schemas.nation, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", Schemas.customer, (0 until n.customer).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), pick(r, segments))
    })
    save("supplier", Schemas.supplier, (0 until n.supplier).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    })

    val adjectives = Seq("blue", "cold", "small", "large", "red", "shiny", "green", "old")
    val nouns = Seq("widget", "bolt", "anvil", "gear", "valve", "spring", "nut", "lever")
    val types = Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
    save("part", Schemas.part, (0 until n.part).map { i =>
      Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, types), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    })

    val d1995 = LocalDate.of(1995, 1, 1)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save("orders", Schemas.orders, (0 until n.orders).map { i =>
      Row(i.toLong, r.nextInt(n.customer).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000.0, 500000.0), day(d1995, r.nextInt(2400)), pick(r, priorities))
    })
    save("lineitem", Schemas.lineitem, (0 until n.lineitem).map { _ =>
      Row(r.nextInt(n.orders).toLong, r.nextInt(n.part).toLong, r.nextInt(n.supplier).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("F", "O")), day(d1995, 1 + r.nextInt(2500)))
    })

    val jan2024 = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val span = 30L * 86400L * 1000000L
    val eventTimes = Array.fill(n.events)(jan2024 + (r.nextDouble() * span).toLong).sorted
    val eventTypes = Seq("click", "error", "purchase", "signup", "view")
    save("events", Schemas.events, eventTimes.toSeq.zipWithIndex.map { case (us, i) =>
      val ts = Timestamp.from(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
      Row(i.toLong, ts, r.nextInt(150).toLong, pick(r, eventTypes), money(r, 0.01, 490.0),
        s"""{"k": ${r.nextInt(100)}}""")
    })

    val langs = Seq("de", "en", "es", "fr", "zh")
    // near-duplicate clusters (copies of the first 40 documents with a few
    // words changed) and shared boilerplate phrases, so that the LSH, k-core
    // and repeated-span queries have work to find
    val boilerplate = Seq.fill(5)(Seq.fill(10)(pick(r, vocab)))
    val texts = mutable.ArrayBuffer.empty[Seq[String]]
    (0 until n.documents).foreach { i =>
      val words =
        if (i >= 40 && r.nextDouble() < 0.15)
          texts(r.nextInt(40)).map(w => if (r.nextDouble() < 0.02) pick(r, vocab) else w)
        else {
          val w = Seq.fill(10 + r.nextInt(90))(pick(r, vocab))
          if (r.nextDouble() < 0.25) {
            val at = r.nextInt(w.length)
            w.take(at) ++ pick(r, boilerplate) ++ w.drop(at)
          } else w
        }
      texts += words
    }
    save("documents", Schemas.documents, texts.toSeq.zipWithIndex.map { case (words, i) =>
      val text = words.mkString(" ")
      Row(i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
    })
    save("embeddings", Schemas.embeddings, (0 until n.embeddings).map { i =>
      val v = Array.fill(64)(r.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    })
  }
}
