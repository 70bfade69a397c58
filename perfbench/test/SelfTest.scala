package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own aggregation code: quantiles, interval
  * unions, span self time, the driver gap, inclusive span work, and job
  * attribution across threads created inside a span. Also checks that
  * BENCHMARK.json declares exactly the metrics Main reports.
  *
  * Run: python3 perfbench/run.py --selftest */
object SelfTest {
  private var passed = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1 }
    catch { case e: Throwable => failures += s"$name: $e" }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def span(id: Int, parent: Int, name: String, s: Long, e: Long) = Span(id, parent, name, s, e, "t")

  def main(args: Array[String]): Unit = {
    test("quantile interpolates and keeps the sample") {
      eq(Agg.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
      eq(Agg.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25), 2.0)
      eq(Agg.quantile(Seq(1.0, 2.0, 3.0), 0.0), 1.0)
      eq(Agg.quantile(Seq(1.0, 2.0, 3.0), 1.0), 3.0)
      eq(Agg.median(Seq(7.0)), 7.0)
      eq(scala.util.Try(Agg.median(Nil)).isFailure, true)
    }

    test("interval union merges overlaps and clips to the window") {
      eq(Agg.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L)), 0L, 100L), 50L)
      eq(Agg.unionLength(Seq((10L, 90L), (20L, 30L)), 0L, 100L), 80L)
      eq(Agg.unionLength(Seq((-5L, 10L), (95L, 200L)), 0L, 100L), 15L)
      eq(Agg.unionLength(Seq((30L, 40L), (10L, 20L)), 0L, 100L), 20L)
      eq(Agg.unionLength(Seq((10L, 20L), (20L, 30L)), 0L, 100L), 20L)
      eq(Agg.unionLength(Nil, 0L, 100L), 0L)
    }

    test("self time subtracts overlapping concurrent children once") {
      val parent = span(0, -1, "epoch", 0L, 100L)
      val all = Seq(parent, span(1, 0, "write.a", 10L, 30L), span(2, 0, "write.b", 20L, 50L),
        span(3, 0, "write.c", 90L, 120L), span(4, 1, "read", 12L, 14L))
      eq(Agg.selfTimeNs(parent, all), 50L)
      eq(Agg.selfTimeNs(all(1), all), 18L)
    }

    test("driver gap is span time outside the subtree's jobs") {
      val all = Seq(span(0, -1, "epoch", 1000000000L, 1100000000L), span(1, 0, "write", 1010000000L, 1090000000L),
        span(2, -1, "other", 0L, 2000000000L))
      // the clock pair maps 5000 ms to 1000000000 ns
      val jobs = Seq(JobInterval(0, 0, 5010L, 5030L), JobInterval(1, 1, 5020L, 5060L),
        JobInterval(2, 2, 5000L, 5100L))
      eq(Agg.driverGapNs(all.head, all, jobs, (1000000000L, 5000L)), 50000000L)
    }

    test("span work includes descendants, once per job") {
      val all = Seq(span(0, -1, "epoch", 0, 10), span(1, 0, "write.a", 1, 2),
        span(2, 1, "commit", 1, 2), span(3, -1, "epoch", 20, 30), span(4, -1, "extract", 40, 50))
      def w(j: Long) = { val x = new SparkWork; x.jobs = j; x.cpuNs = j * 10; x }
      val work = Map(0 -> w(1), 1 -> w(2), 2 -> w(4), 3 -> w(8), 4 -> w(16))
      val got = Agg.workUnder("epoch", all, work)
      eq((got.jobs, got.cpuNs), (15L, 150L))
      eq(Agg.subtree(0, all), Set(0, 1, 2))
    }

    test("BENCHMARK.json declares exactly the reported metrics") {
      val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8")
      val Metric = """\{"name": "([^"]+)", "unit": "([^"]+)"""".r
      val declared = Metric.findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
      eq(declared.toSet, (Main.EndToEnd ++ Main.PerLayer).toSet)
      eq(declared.size, Main.EndToEnd.size + Main.PerLayer.size)
    }

    val tmp = java.nio.file.Paths.get(args(args.indexOf("--tmp") + 1))
    val spark = Main.session(2, tmp)
    try test("jobs from threads created inside a span keep their span") {
      val sc = spark.sparkContext
      val tracer = new Tracer("selftest", Some(sc))
      val listener = new SpanListener(attribute = true)
      sc.addSparkListener(listener)
      tracer.enabled = true
      tracer.span("outer") {
        spark.range(10).count()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try {
          val fs = (0 until 3).map { i =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long =
                if (i == 2) spark.range(5).count()
                else tracer.span(s"write.$i")(spark.range(100 * (i + 1)).count())
            })
          }
          fs.foreach(_.get())
        } finally pool.shutdown()
      }
      spark.range(3).count()
      PerfbenchBus.drain(sc)
      val spans = tracer.spans
      val byId = spans.map(s => s.id -> s).toMap
      val outer = spans.find(_.name == "outer").get
      spans.filter(_.name.startsWith("write.")).foreach(s => eq(s.parent, outer.id))
      val jobSpans = listener.jobIntervals.sortBy(_.jobId).map(j => byId.get(j.span).map(_.name).getOrElse("-"))
      // each count() runs the same number of jobs; the thread without its
      // own span inherits "outer", so outer holds two counts' jobs
      eq(jobSpans.head, "outer")
      eq(jobSpans.last, "-")
      eq(jobSpans.toSet, Set("outer", "write.0", "write.1", "-"))
      eq(jobSpans.count(_ == "outer"), 2 * jobSpans.count(_ == "-"))
      eq(jobSpans.count(_ == "write.0"), jobSpans.count(_ == "-"))
      eq(Agg.workUnder("outer", spans, listener.workBySpan).jobs, jobSpans.count(_ != "-").toLong)
      eq(listener.peakBytes >= 0L, true)
    } finally spark.stop()

    failures.foreach(f => System.err.println(s"FAILED $f"))
    println(s"selftest: $passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
