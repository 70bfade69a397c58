package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are System.nanoTime values; `parent` is -1
  * for a root span. All spans of one benchmark process share `runId`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      runId: String)

/** In-memory span recorder. A span opened on a thread is the parent of
  * every span opened later on that thread and on threads it creates (the
  * current span is an InheritableThreadLocal, like Spark's own local
  * properties). While a span is open, the Spark local property
  * [[Tracer.SpanProperty]] carries its id, so [[SpanListener]] can
  * attribute each job to the span that was open on the submitting thread.
  * Disabled, `span` only runs its body. */
final class Tracer(val runId: String, sc: Option[SparkContext]) {
  @volatile var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Integer]

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val parent = current.get()
    val prevProp = sc.map(_.getLocalProperty(Tracer.SpanProperty))
    current.set(id)
    sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, if (parent == null) -1 else parent.intValue, name, t0,
        System.nanoTime(), runId))
      current.set(parent)
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, prevProp.orNull))
    }
  }

  def spans: Vector[Span] = {
    val b = Vector.newBuilder[Span]
    done.forEach(s => b += s)
    b.result().sortBy(_.id)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark work attributed to one span: summed over the tasks of the jobs
  * submitted while the span was innermost on the submitting thread. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
  }
}

/** Job interval on the listener clock (epoch milliseconds). */
final case class JobInterval(jobId: Int, span: Int, startMs: Long, endMs: Long)

/** Listens for block updates (always) and, when `attribute` is set, for
  * jobs, stages and tasks, which it attributes to the span id found in
  * the job's local properties (-1 when no span was open). */
final class SpanListener(attribute: Boolean) extends SparkListener {
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var heldBytes = 0L
  private var peak = 0L
  private val jobSpan = scala.collection.mutable.HashMap.empty[Int, Int]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val intervals = Vector.newBuilder[JobInterval]
  private val work = scala.collection.mutable.HashMap.empty[Int, SparkWork]

  private def workOf(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)
  private def spanOfStage(stageId: Int): Int =
    stageJob.get(stageId).flatMap(jobSpan.get).getOrElse(-1)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val key = info.blockId.name
    heldBytes += size - blocks.getOrElse(key, 0L)
    if (size > 0) blocks(key) = size else blocks.remove(key)
    if (heldBytes > peak) peak = heldBytes
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (attribute) synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    workOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (attribute) synchronized {
    intervals += JobInterval(e.jobId, jobSpan.getOrElse(e.jobId, -1),
      jobStart.getOrElse(e.jobId, e.time), e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (attribute) synchronized {
    workOf(spanOfStage(e.stageInfo.stageId)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (attribute) synchronized {
    val w = workOf(spanOfStage(e.stageId))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Start a new peak window at the bytes held now. */
  def resetPeak(): Unit = synchronized { peak = heldBytes }
  def peakBytes: Long = synchronized(peak)
  def jobIntervals: Vector[JobInterval] = synchronized(intervals.result())
  def workBySpan: Map[Int, SparkWork] = synchronized(work.toMap)
}

/** Pure aggregation over spans, job intervals and samples. */
object Agg {

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length of the union of half-open intervals, clipped to
    * [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's duration minus the part its direct children cover (children
    * may overlap each other when they ran on concurrent threads). */
  def selfTimeNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id).map(c => (c.startNs, c.endNs))
    (span.endNs - span.startNs) - unionLength(kids, span.startNs, span.endNs)
  }

  /** Ids of `root` and all its descendants. */
  def subtree(root: Int, all: Seq[Span]): Set[Int] = {
    val byParent = all.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      byParent.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ go(c.id))
    go(root)
  }

  /** Wall time of `span` during which no Spark job of its subtree was
    * running: the driver's own share of the span. Job intervals are on the
    * millisecond wall clock, converted with `nanoAtMs` = (nanoTime,
    * currentTimeMillis) sampled together. */
  def driverGapNs(span: Span, all: Seq[Span], jobs: Seq[JobInterval],
                  nanoAtMs: (Long, Long)): Long = {
    val ids = subtree(span.id, all)
    val (n0, ms0) = nanoAtMs
    val iv = jobs.filter(j => ids(j.span))
      .map(j => (n0 + (j.startMs - ms0) * 1000000L, n0 + (j.endMs - ms0) * 1000000L))
    (span.endNs - span.startNs) - unionLength(iv, span.startNs, span.endNs)
  }

  /** Spark work of every span named `name`, including work attributed to
    * their descendants. */
  def workUnder(name: String, all: Seq[Span], work: Map[Int, SparkWork]): SparkWork = {
    val out = new SparkWork
    val ids = all.filter(_.name == name).flatMap(s => subtree(s.id, all)).toSet
    ids.foreach(id => work.get(id).foreach(out.add))
    out
  }
}
