package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import graft.core.{PyUrl, Rewriter}
import graft.data.SyntheticCorpus
import graft.frontier.{Scheduler, SeenSet}
import graft.jobs.CrawlJob
import graft.model.Candidate
import graft.sql.ExtractionOps
import graft.store.ParquetSnapshotStore

/** The `crawl` workload: a crawl of the seeded synthetic corpus through
  * `CrawlJob.init/runEpoch/recrawlWithDelete` with the bloom seen set.
  *
  * A step first forgets URLs fetched in the previous epoch (seed URLs
  * before the first) with `recrawlWithDelete`, a copy-on-write rewrite of
  * the seen segments that hold them. It then runs an epoch whose `recrawl`
  * input is other such URLs (refreshes) plus URLs no corpus page has (fetch
  * misses, then retries). Each chosen URL is on its own host for its kind,
  * so with the earlier misses' retries a host gets at most 4 of them:
  * within the smallest crawl-delay budget (5), so every one is scheduled in
  * the epoch that follows.
  *
  * The warm-up primes a store with `init` and step 0. Each operation forks
  * the primed store (a new root holding copies of its manifests, which
  * point at the primed table versions) and runs step 1 on the fork: the
  * delete rewrites the compacted seen segment, and the epoch compacts again
  * (`maxBloomSegments` 1: every epoch compacts, so priming warms that path;
  * left cold it made operation times spread 5x wider). Every operation does
  * the same work, so their crawl orders must be identical. */
final class CrawlWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  import Main.time

  val opSpan = "epoch"
  private val tracer = ctx.tracer
  private val seed = ctx.seed

  private val pagesN = (20000 * ctx.scale).toLong
  private val hosts = 200
  private val seedsN = math.max(20, (1000 * ctx.scale).toInt)
  private val budget = 32
  /** Hosts per step that get one deleted, one refreshed and one missing URL. */
  private val touchedHosts = 20

  private val cfg = CrawlJob.Config(
    seen = SeenSet.Config(numBuckets = 32, expectedPerBucket = 1L << 11, maxBloomSegments = 1),
    sched = Scheduler.Config(perHostBudget = budget),
    shufflePartitions = ctx.cores)

  private var pages: DataFrame = _
  private var robots: DataFrame = _
  /** host -> disallowed path prefixes */
  private var disallow: Map[String, Seq[String]] = Map.empty

  /** Whether robots rules keep `url` from being fetched (seeds can be). */
  private def disallowed(url: String): Boolean = {
    val rest = url.substring(url.indexOf("://") + 3)
    val path = rest.substring(rest.indexOf('/') max 0)
    disallow.getOrElse(PyUrl.hostOf(url), Nil).exists(path.startsWith)
  }
  /** Crawl-order digest of each step, from the first operation that ran it. */
  private val digests = LinkedHashMap.empty[Int, Long]
  /** The store after `init` and step 0; operations fork it. */
  private var primed: Pass = _

  def setup(): SetupCost = {
    if (pages != null) { pages.unpersist(true); robots.unpersist(true) }
    val t0 = System.nanoTime()
    val (raw, gen) = time {
      val r = SyntheticCorpus.pages(spark, seed, pagesN, ctx.cores, hosts).toDF().persist()
      r.count()
      r
    }
    val (prepared, prep) = time(tracer.span("prepare") {
      val p = CrawlJob.preparePages(raw).persist()
      p.count()
      p
    })
    raw.unpersist(true)
    pages = prepared
    val rules = SyntheticCorpus.robots(spark, seed, hosts)
    disallow = rules.collect().map(r => r.host -> r.disallow).toMap
    robots = rules.toDF().persist()
    robots.count()
    SetupCost((System.nanoTime() - t0) / 1e9, gen, prep)
  }

  /** Primes the store; its outputs are checked with every fork's. */
  def warmup(): Unit = {
    if (primed != null) primed.drop()
    val phase = new Phase
    primed = new Pass(phase, null, None)
    primed.next()
    require(phase.failed == 0, s"priming failed: ${phase.problems.mkString("; ")}")
  }

  def measure(seconds: Double, traced: Boolean): Phase = {
    val phase = new Phase
    val acc = if (traced) new LayerAcc else null
    val forks = ArrayBuffer.empty[Pass]
    while (phase.timedSeconds < seconds && phase.problems.isEmpty) {
      val fork = new Pass(phase, acc, Some(primed))
      forks += fork
      System.gc()
      fork.next()
      fork.finish()
    }
    if (traced) layers(phase, acc, forks.toSeq)
    forks.foreach(_.drop())
    phase
  }

  def close(): Unit = {
    if (primed != null) primed.drop()
    if (pages != null) { pages.unpersist(); robots.unpersist() }
  }

  /** Sums of the replayed frontier work over a traced phase. */
  private final class LayerAcc {
    var epochs = 0
    var filterS = 0.0
    var dequeueS = 0.0
    var candidates = 0L
    var unseen = 0L
    var maybe = 0L
    var falsePositives = 0L
    var deletes = 0
    var deleteS = 0.0
  }

  /** A crawl in its own store root: from `init`, or forked from another
    * pass's latest snapshot. `acc` is set while tracing. */
  private final class Pass(phase: Phase, acc: LayerAcc, from: Option[Pass]) {
    val store = new TimedStore(new ParquetSnapshotStore(ctx.freshDir("store").toString), tracer)
    val results = ArrayBuffer.empty[CrawlJob.EpochResult]
    /** (delete commit epoch, urls forgotten) */
    val deletes = ArrayBuffer.empty[(Long, Seq[String])]
    private val chosen = scala.collection.mutable.HashSet.empty[String]
    var step = 0
    var liveBytes = 0L
    var filterBytes = 0L

    from match {
      case None =>
        CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, pagesN, seedsN, hosts), cfg)
      case Some(src) =>
        val root = java.nio.file.Paths.get(src.store.inner.rootDir)
        val s = java.nio.file.Files.list(root)
        try s.filter(_.getFileName.toString.startsWith("manifest-")).forEach { m =>
          java.nio.file.Files.copy(m, java.nio.file.Paths.get(store.inner.rootDir).resolve(m.getFileName))
        } finally s.close()
        results ++= src.results
        deletes ++= src.deletes
        chosen ++= src.chosen
        step = src.step
    }

    def next(): Unit = try {
      val recrawlUrls = (pick() ++ missing()).toDS()
      val forget = pick()
      val (d, ds) = time(tracer.span("delete")(
        CrawlJob.recrawlWithDelete(spark, store, forget.toDS(), cfg)))
      phase.timedSeconds += ds
      phase.attempted += 1
      deletes += ((d.epoch, forget))
      if (acc != null) { acc.deletes += 1; acc.deleteS += ds }
      if (acc != null) replay(this, acc)
      val (r, s) = time(tracer.span("epoch")(
        CrawlJob.runEpoch(spark, store, pages, robots, cfg, Some(recrawlUrls))))
      phase.timedSeconds += s
      phase.opSeconds += s
      phase.attempted += 1
      phase.items += r.fetched
      results += r
      step += 1
    } catch {
      case e: Exception =>
        phase.attempted += 1
        phase.failed += 1
        phase.problems += s"step $step failed: $e"
    }

    /** One URL on each of `touchedHosts` hosts, fetched in the last epoch
      * (a seed before the first) and never chosen before, in seeded order. */
    private def pick(): Seq[String] = {
      val snap = store.inner.latest().get
      val from = snap.tables.get("extracted").map(_.split(";").last).getOrElse(snap.tables("frontier"))
      val urls = spark.read.parquet(from).select("url").as[String].collect()
        .filterNot(u => chosen(u) || disallowed(u)).sortBy(u => mix(u.hashCode.toLong))
      val out = urls.groupBy(PyUrl.hostOf).toSeq.sortBy(h => mix(h._1.hashCode.toLong))
        .take(touchedHosts).map(_._2.head)
      chosen ++= out
      out
    }

    /** One URL on each of `touchedHosts` hosts that no corpus page has. */
    private def missing(): Seq[String] =
      (0 until hosts).sortBy(h => mix(h + 1000L * step)).take(touchedHosts)
        .map(h => s"https://host$h.example/missing/s$seed-e$step.html")

    private def mix(x: Long): Long = {
      var z = x + seed * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

    def deletedUrls: Set[String] = deletes.flatMap(_._2).toSet

    /** Checks the committed tables against the epoch results and the crawl
      * invariants, and records each step's crawl-order digest. */
    def finish(): Unit = {
      if (results.isEmpty) return
      val snap = store.inner.latest().get
      // the table versions the latest snapshot references, in any root
      liveBytes = snap.tables.values.flatMap(_.split(";")).toSeq.distinct
        .map(p => TimedStore.du(java.nio.file.Paths.get(p), dataOnly = false)._1).sum
      def read(t: String) = store.inner.readTable(spark, snap, t)
      if (acc != null)
        filterBytes = read("blooms").select(sum(length(col("bytes")))).as[Long].head()
      val sched = read("scheduled").select("epoch", "seq", "url", "host", "retries")
        .as[(Long, Long, String, String, Int)].collect()
      val extracted = read("extracted").groupBy("epoch")
        .agg(count(lit(1)), sum(when(col("extracted_html").isNull, 1L).otherwise(0L)))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val byEpoch = sched.groupBy(_._1)
      for ((r, i) <- results.zipWithIndex) {
        val rows = byEpoch.getOrElse(r.epoch, Array.empty)
        val (fetched, nulls) = extracted.getOrElse(r.epoch, (0L, 0L))
        phase.check(rows.length == r.scheduled,
          s"epoch ${r.epoch}: scheduled counter ${r.scheduled} but ${rows.length} rows committed")
        phase.check(fetched == r.fetched,
          s"epoch ${r.epoch}: fetched counter ${r.fetched} but $fetched extracted rows committed")
        phase.attempted += fetched
        phase.failed += nulls
        val overBudget = rows.groupBy(_._4).filter(_._2.length > budget).keys
        phase.check(overBudget.isEmpty, s"epoch ${r.epoch}: hosts over budget: ${overBudget.take(3)}")
        val d = java.util.Arrays.hashCode(rows.map(x => (x._4, x._2, x._3)).sorted
          .map { case (h, s, u) => s"${r.epoch}|$h|$s|$u".hashCode })
        digests.get(i) match {
          case Some(ref) => phase.check(ref == d, s"step $i: crawl order differs between passes")
          case None => digests(i) = d
        }
      }
      val timesDeleted = deletes.flatMap(_._2).groupBy(identity).map { case (u, s) => u -> s.size }
      for ((url, rows) <- sched.groupBy(_._3)) {
        phase.check(rows.length <= 1 + cfg.maxRetries,
          s"$url scheduled ${rows.length} times (> 1 + maxRetries)")
        phase.check(rows.count(_._5 == 0) <= 1 + timesDeleted.getOrElse(url, 0),
          s"$url scheduled ${rows.count(_._5 == 0)} times with retries=0 (seen-set false negative)")
      }
      val lastEpoch = results.last.epoch
      for ((delEpoch, urls) <- deletes if delEpoch < lastEpoch; u <- urls)
        phase.check(sched.exists(x => x._1 > delEpoch && x._3 == u && x._5 == 0),
          s"deleted $u (epoch $delEpoch) was not refetched")
    }

    def drop(): Unit = TimedStore.deleteTree(java.nio.file.Paths.get(store.inner.rootDir))
  }

  /** Replays the seen-set filter and the dequeue on the snapshot the next
    * epoch reads, outside the epoch's timing. A maybe-hit the exact table
    * finds unseen is a filter false positive, unless the URL was deleted
    * (a bloom filter keeps a deleted URL's bits). */
  private def replay(pass: Pass, acc: LayerAcc): Unit = {
    val st = pass.store.inner
    val snap = st.latest().get
    val seen = st.readTable(spark, snap, "seen")
    val ((kept, cached), filterS) = time(tracer.span("replay.seen_filter") {
      val (k, _, c) = SeenSet.dedupAndFilterNew(spark,
        st.readTable(spark, snap, "frontier").as[Candidate], seen,
        st.readTable(spark, snap, "blooms").as[SeenSet.BucketBloom], cfg.seen)
      acc.unseen += k.count()
      (k, c.toDF())
    })
    val b = budget
    val (_, dequeueS) = time(tracer.span("replay.dequeue")(
      Scheduler.dequeueRanked(spark, kept.map(c => (c, b)), cfg.sched).count()))
    acc.candidates += cached.count()
    val maybe = cached.filter(col("maybe"))
    acc.maybe += maybe.count()
    val deleted = pass.deletedUrls
    acc.falsePositives += maybe.select("url").join(seen.select("url"), Seq("url"), "left_anti")
      .as[String].collect().count(u => !deleted(u))
    cached.unpersist()
    acc.epochs += 1
    acc.filterS += filterS
    acc.dequeueS += dequeueS
  }

  private def layers(phase: Phase, acc: LayerAcc, passes: Seq[Pass]): Unit = {
    val first = passes.head
    val l = phase.layers
    val n = math.max(1, acc.epochs).toDouble
    l("frontier.seen_filter_s") = acc.filterS / n
    l("frontier.dequeue_s") = acc.dequeueS / n
    l("frontier.candidates") = acc.candidates / n
    l("frontier.unseen") = acc.unseen / n
    l("frontier.maybe_hits") = acc.maybe / n
    l("frontier.filter_fp_rate") = if (acc.maybe == 0) 0.0 else acc.falsePositives.toDouble / acc.maybe
    l("frontier.filter_bytes") = first.filterBytes
    if (acc.deletes > 0) l("frontier.delete_s") = acc.deleteS / acc.deletes

    val spans = tracer.spans
    def spanS(name: String) = spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9 / n
    for (t <- TimedStore.Tables) {
      val written = passes.map(_.store.written.getOrElse(t, (0L, 0L)))
      l(s"store.write_s.$t") = spanS(s"write.$t")
      l(s"store.write_bytes.$t") = written.map(_._1).sum / n
      l(s"store.files.$t") = written.map(_._2).sum / n
    }
    l("store.read_s") = spanS("read")
    l("store.commit_s") = spanS("commit")
    l("store.expire_s") = spanS("expire")
    l("store.live_bytes") = first.liveBytes
    l("store.bytes_per_url") = first.liveBytes.toDouble / math.max(1L, first.results.map(_.fetched).sum)

    // single-thread graft.core calls on the corpus's own pages
    val sample = pages.limit(200).select("url", "html").as[(String, Array[Byte])].collect()
    val archives = sample.map { case (u, h) => ExtractionOps.archiveOf(h, u) }
    val links = archives.flatMap(a => Rewriter.extractAll(a)._3)
    l("core.extract_all_us.page") = Agg.median((1 to 5).map { _ =>
      val (_, s) = time(archives.foreach(Rewriter.extractAll))
      s * 1e6 / archives.length
    })
    l("core.canonicalize_ns") = Agg.median((1 to 5).map { _ =>
      val (_, s) = time(links.foreach(PyUrl.canonicalize))
      s * 1e9 / links.length
    })
  }
}
