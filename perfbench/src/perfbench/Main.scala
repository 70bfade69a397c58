package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val cores: Int, val seed: Long,
                val repoDir: java.nio.file.Path, val tmpDir: java.nio.file.Path,
                val scale: Double = 1.0) {
  /** A fresh, empty directory under the run's scratch directory. */
  def freshDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tmpDir, prefix + "-")
}

/** What one measured phase did. `opSeconds` holds one wall time per
  * operation of the workload's unit (an epoch, an extraction pass, a dedup
  * pass); `timedSeconds` is the wall time of all timed program calls. */
final class Phase {
  val opSeconds = ArrayBuffer.empty[Double]
  var timedSeconds = 0.0
  var items = 0L
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Wall times of named sub-operations, such as one dedup family. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def sample(name: String, s: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += s

  def check(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg
}

/** Measured cost of one set-up: total, input generation, page preparation. */
final case class SetupCost(total: Double, gen: Double, prepare: Double)

trait Workload {
  /** Name of the span around one operation. */
  def opSpan: String
  /** (Re)build the inputs; called several times, each from scratch. */
  def setup(): SetupCost
  /** Untimed work on the full inputs before timing: warms the JIT and
    * Spark's code caches, and builds any state operations start from. */
  def warmup(): Unit
  /** Time operations until their summed wall time reaches `seconds`, and
    * check every output. With tracing on, also record the layer metrics
    * that need extra calls (replays, single-thread core loops). */
  def measure(seconds: Double, traced: Boolean): Phase
  def close(): Unit
}

/** One stage of the `pipeline` workload. `run` times one pass over the
  * stage's inputs into `phase` and checks its outputs; `layers` records the
  * stage's per-layer metrics after a traced phase. */
trait Stage {
  def setup(): SetupCost
  def run(phase: Phase): Unit
  def layers(phase: Phase): Unit
  def close(): Unit
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_s_p50" -> "s", "cache_peak_mb" -> "MB")

  /** Spans whose Spark work is reported per instance. */
  val SparkSpans = Seq("prepare", "epoch", "delete", "extract", "minhash", "simhash", "embedding")
  val SparkFields = Seq("cpu_s" -> "s", "run_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes")
  val Families = Seq("minhash", "simhash", "embedding")

  /** Every per-layer metric, in report order. A workload that does not
    * exercise a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Seq("core.plist_parse_us" -> "us", "core.extract_all_us.wiki" -> "us",
        "core.extract_all_us.small" -> "us", "core.extract_all_us.page" -> "us",
        "core.canonicalize_ns" -> "ns",
        "sql.extract_all_1part_s" -> "s", "sql.overhead_ratio" -> "ratio",
        "frontier.seen_filter_s" -> "s", "frontier.candidates" -> "count",
        "frontier.unseen" -> "count", "frontier.maybe_hits" -> "count",
        "frontier.filter_fp_rate" -> "ratio", "frontier.dequeue_s" -> "s",
        "frontier.filter_bytes" -> "bytes", "frontier.delete_s" -> "s") ++
    TimedStore.Tables.flatMap(t => Seq(s"store.write_s.$t" -> "s",
      s"store.write_bytes.$t" -> "bytes", s"store.files.$t" -> "count")) ++
    Seq("store.read_s" -> "s", "store.commit_s" -> "s", "store.expire_s" -> "s",
        "store.live_bytes" -> "bytes", "store.bytes_per_url" -> "bytes",
        "jobs.driver_gap_s" -> "s", "jobs.spark_jobs" -> "count", "jobs.stages" -> "count",
        "jobs.tasks" -> "count", "jobs.prepare_pages_s" -> "s", "jobs.ops" -> "count") ++
    SparkSpans.flatMap(s => SparkFields.map { case (f, u) => s"spark.$s.$f" -> u }) ++
    Families.flatMap(f => Seq(s"pipeline.$f.s" -> "s", s"pipeline.$f.items_per_s" -> "1/s",
      s"pipeline.$f.candidates" -> "count", s"pipeline.$f.pairs" -> "count",
      s"pipeline.$f.recall" -> "ratio", s"pipeline.$f.jobs" -> "count",
      s"pipeline.$f.shuffle_write_bytes" -> "bytes")) ++
    Seq("pipeline.simhash.hot_groups" -> "count", "pipeline.embedding.hot_groups" -> "count",
        "pipeline.minhash.lsh_s" -> "s", "pipeline.minhash.verify_s" -> "s",
        "data.gen_s" -> "s", "trace.overhead_ratio" -> "ratio")

  private def arg(args: Array[String], name: String, default: String = null): String = {
    val i = args.indexOf(s"--$name")
    if (i < 0 && default != null) return default
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "crawl" => new CrawlWorkload(ctx)
    case "pipeline" => new PipelineWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs every workload at a small scale with tracing on: the
    * class-loading run behind the build's class-data-sharing archive. */
  private def train(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.addSparkListener(new SpanListener(attribute = true))
    ctx.tracer.enabled = true
    for (name <- Seq("crawl", "pipeline")) {
      val w = workloadOf(name, ctx)
      w.setup()
      w.warmup()
      val p = w.measure(0.1, traced = false)
      require(p.problems.isEmpty && p.failed == 0, s"$name: ${p.problems.mkString("; ")}")
      w.close()
    }
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(cores: Int, tmpDir: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", tmpDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmpDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", tmpDir.resolve("hadoop").toString)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 32 * 1024 * 1024)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.GraftFunctions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val repoDir = java.nio.file.Paths.get(arg(args, "repo")).toAbsolutePath
    val tmpDir = java.nio.file.Paths.get(arg(args, "tmp")).toAbsolutePath
    val traceOut = java.nio.file.Paths.get(arg(args, "trace-out", "traces")).toAbsolutePath
    val scale = arg(args, "scale", "1").toDouble

    val spark = session(cores, tmpDir)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    val blocks = new SpanListener(attribute = false)
    sc.addSparkListener(blocks)
    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}", Some(sc))
    val ctx = new Ctx(spark, tracer, cores, seed, repoDir, tmpDir, scale)
    if (workload == "train") { train(ctx); spark.stop(); return }
    val w = workloadOf(workload, ctx)

    val setups = (1 to 3).map(_ => w.setup())
    val setupS = sessionS + Agg.median(setups.map(_.total))
    val (_, warmS) = time(w.warmup())
    System.err.println(f"[perfbench] session $sessionS%.2fs setups " +
      setups.map(s => f"${s.total}%.2f").mkString(",") + f"s warm-up $warmS%.2fs")

    System.gc()
    PerfbenchBus.drain(sc)
    blocks.resetPeak()
    val plain = w.measure(seconds, traced = false)
    PerfbenchBus.drain(sc)
    val peakMb = blocks.peakBytes / (1024.0 * 1024.0)
    report(workload, "untraced", plain)

    val phases = ArrayBuffer(plain)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val m = Map(
        "setup_s" -> setupS,
        "items_per_s" -> plain.items / plain.timedSeconds,
        "op_s_p50" -> (if (plain.opSeconds.isEmpty) 0.0 else Agg.median(plain.opSeconds.toSeq)),
        "cache_peak_mb" -> peakMb)
      EndToEnd.foreach { case (k, u) => metrics(k) = (m(k), u) }
    } else {
      val listener = new SpanListener(attribute = true)
      sc.addSparkListener(listener)
      val nanoAtMs = (System.nanoTime(), System.currentTimeMillis())
      tracer.enabled = true
      val setupT = tracer.span("setup")(w.setup())
      System.gc()
      val traced = w.measure(seconds, traced = true)
      tracer.enabled = false
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      phases += traced
      report(workload, "traced", traced)
      // untraced again: the code keeps warming, so the overhead compares the
      // traced phase with the mean of the untraced phases around it
      val after = w.measure(seconds, traced = false)
      phases += after
      report(workload, "untraced again", after)
      val spans = tracer.spans
      val work = listener.workBySpan
      val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      PerLayer.foreach { case (k, _) => layer(k) = 0.0 }
      layer ++= traced.layers
      val ops = spans.filter(_.name == w.opSpan)
      if (ops.nonEmpty) {
        val opWork = new SparkWork
        ops.foreach(o => Agg.subtree(o.id, spans).foreach(id => work.get(id).foreach(opWork.add)))
        layer("jobs.driver_gap_s") =
          ops.map(o => Agg.driverGapNs(o, spans, listener.jobIntervals, nanoAtMs)).sum / 1e9 / ops.size
        layer("jobs.spark_jobs") = opWork.jobs.toDouble / ops.size
        layer("jobs.stages") = opWork.stages.toDouble / ops.size
        layer("jobs.tasks") = opWork.tasks.toDouble / ops.size
      }
      layer("jobs.ops") = plain.opSeconds.size
      if (Seq(plain, traced, after).forall(_.opSeconds.nonEmpty))
        layer("trace.overhead_ratio") = Agg.median(traced.opSeconds.toSeq) /
          ((Agg.median(plain.opSeconds.toSeq) + Agg.median(after.opSeconds.toSeq)) / 2)
      layer("data.gen_s") = setupT.gen
      if (setupT.prepare > 0) layer("jobs.prepare_pages_s") = setupT.prepare
      for (s <- SparkSpans) {
        val n = spans.count(_.name == s)
        if (n > 0) {
          val sw = Agg.workUnder(s, spans, work)
          layer(s"spark.$s.cpu_s") = sw.cpuNs / 1e9 / n
          layer(s"spark.$s.run_s") = sw.runMs / 1e3 / n
          layer(s"spark.$s.gc_s") = sw.gcMs / 1e3 / n
          layer(s"spark.$s.shuffle_write_bytes") = sw.shuffleWriteBytes.toDouble / n
          layer(s"spark.$s.shuffle_read_bytes") = sw.shuffleReadBytes.toDouble / n
          layer(s"spark.$s.spill_bytes") = sw.spillBytes.toDouble / n
        }
      }
      for (f <- Families) {
        val n = spans.count(_.name == f)
        if (n > 0) {
          val fw = Agg.workUnder(f, spans, work)
          layer(s"pipeline.$f.jobs") = fw.jobs.toDouble / n
          layer(s"pipeline.$f.shuffle_write_bytes") = fw.shuffleWriteBytes.toDouble / n
        }
      }
      val units = PerLayer.toMap
      layer.foreach { case (k, v) => metrics(k) = (v, units(k)) }
      writeSpans(traceOut, workload, seed, spans, listener.jobIntervals, nanoAtMs)
    }
    w.close()
    spark.stop()

    val problems = phases.flatMap(_.problems)
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${problems.isEmpty && failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def report(workload: String, label: String, p: Phase): Unit =
    System.err.println(f"[perfbench] $workload $label: ${p.opSeconds.size} ops, " +
      f"${p.items} items in ${p.timedSeconds}%.2fs; op s " +
      p.opSeconds.map(s => f"$s%.2f").mkString(",") +
      p.samples.map { case (k, v) => s"; $k s " + v.map(x => f"$x%.2f").mkString(",") }.mkString +
      s"; ${p.attempted} attempted, ${p.failed} failed, ${p.problems.size} check failures" +
      p.problems.take(5).map("\n  " + _).mkString)

  /** One JSON object per span (with its self time), then one per Spark
    * job interval. */
  private def writeSpans(out: java.nio.file.Path, workload: String, seed: Long, spans: Seq[Span],
                         jobs: Seq[JobInterval], nanoAtMs: (Long, Long)): Unit = {
    java.nio.file.Files.createDirectories(out)
    val f = out.resolve(s"spans-$workload-$seed.jsonl")
    val lines = spans.map(s =>
      s"""{"span": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_ns": ${s.startNs}, """ +
      s""""end_ns": ${s.endNs}, "self_ns": ${Agg.selfTimeNs(s, spans)}, "run": "${s.runId}"}""") ++
      jobs.map(j =>
        s"""{"job": ${j.jobId}, "span": ${j.span}, "start_ns": ${nanoAtMs._1 + (j.startMs - nanoAtMs._2) * 1000000L}, """ +
        s""""end_ns": ${nanoAtMs._1 + (j.endMs - nanoAtMs._2) * 1000000L}}""")
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] wrote ${spans.size} spans and ${jobs.size} jobs to $f")
  }
}
