package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

import graft.data.SyntheticCorpus
import graft.store.{FrontierStore, ParquetSnapshotStore, Snapshot}
import graft.frontier.{RobotsReference, RobotsRules, Scheduler, SeenSet}
import graft.model.Candidate
import graft.core.{HtmlTok, Mime, PyUrl, Rewriter}
import graft.sql.ExtractionOps

/** Crawl-semantics tests (SURVEY.md §5.2(4)): the Spark frontier must match
  * a straightforward single-threaded in-memory oracle implementing the same
  * seed list, politeness budget, robots rules, dedup and ordering; plus
  * exact resume-from-snapshot and determinism across runs. */
class CrawlJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("crawl-spec")
    .config("spark.sql.shuffle.partitions", 8)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val seed = 42L
  private val N = 2000L // corpus size
  private val cfg = CrawlJob.Config(
    seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 16),
    sched = Scheduler.Config(perHostBudget = 4, saltFactor = 4))

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  private def freshStore() = new ParquetSnapshotStore(
    Files.createTempDirectory("crawlstore").toString)

  private def runCrawl(epochs: Int, inputPartitions: Int = 8)
      : (ParquetSnapshotStore, Vector[CrawlJob.EpochResult]) = {
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, inputPartitions).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, N, 20), cfg)
    val results = (1 to epochs).map { _ =>
      CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    }.toVector
    (store, results)
  }

  /** Crawl order rows as (epoch, url) in the deterministic total order
    * (epoch, host ASC, seq-within-host ASC). The manifest's scheduled entry
    * is a ';'-joined append-segment list carrying every epoch. */
  private def scheduledTable(store: ParquetSnapshotStore): Vector[(Long, String)] = {
    import spark.implicits._
    val snap = store.latest().get
    spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
      .select("epoch", "host", "seq", "url")
      .as[(Long, String, Long, String)].collect()
      .toVector.sortBy(r => (r._1, r._2, r._3)).map(r => (r._1, r._4))
  }

  // ---------- in-memory oracle ------------------------------------------------

  /** The capture tie-break hash: Spark's `xxhash64(html)` (seed 42), so the
    * oracle replicates the `CrawlJob.preparePages` winner. */
  private def captureHash(html: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      html, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, html.length, 42L)

  /** The outlink rule written out on its own, so the oracle does not share
    * the engine's `PageObserver`: a/area href and frame/iframe src,
    * absolutized against the page URL, http(s) only, first-seen order
    * without duplicates; none when the tokenizer throws. */
  private def referenceOutlinks(body: Array[Byte], url: String): Vector[String] = {
    val archive = ExtractionOps.archiveOf(body, url)
    if (!Mime.isHtml(archive.main.mimeType)) return Vector.empty
    val text = try Rewriter.resourceText(archive.main) catch { case _: Exception => return Vector.empty }
    val base = archive.main.url
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    try {
      HtmlTok.tokenize(text, new HtmlTok.Handler {
        private def add(v: String): Unit = {
          if (v != null && v.nonEmpty) {
            val abs = try PyUrl.urljoin(base, v) catch { case _: Exception => null }
            if (abs != null && (abs.startsWith("http://") || abs.startsWith("https://")))
              seen += abs
          }
        }
        private def scan(tag: String, attrs: List[(String, String)]): Unit =
          for ((a, v) <- attrs) {
            if (((tag == "a" || tag == "area") && a == "href") ||
                ((tag == "frame" || tag == "iframe") && a == "src")) add(v)
          }
        override def starttag(tag: String, attrs: List[(String, String)]): Unit = scan(tag, attrs)
        override def startendtag(tag: String, attrs: List[(String, String)]): Unit = scan(tag, attrs)
        override def endtag(tag: String): Unit = ()
        override def data(d: String): Unit = ()
        override def entityref(name: String): Unit = ()
        override def charref(name: String): Unit = ()
        override def comment(d: String): Unit = ()
        override def decl(d: String): Unit = ()
      })
    } catch { case _: Exception => seen.clear() }
    seen.toVector
  }

  /** (scheduled-per-epoch, final frontier map, final seen set). */
  private def oracle(epochs: Int)
      : (Vector[(Int, Vector[String])], Map[String, Candidate], Set[String]) = {
    // materialize the corpus once
    val pages: Map[String, Array[Byte]] = {
      // same capture winner as preparePages: max (warc_ts, xxhash64(html))
      val best = scala.collection.mutable.Map.empty[String, (Long, Long, Array[Byte])]
      for (i <- 0L until N) {
        val u = PyUrl.canonicalize(SyntheticCorpus.urlOf(seed, i)).get
        val html = SyntheticCorpus.htmlOf(seed, i, N).getBytes("UTF-8")
        val ts = SyntheticCorpus.tsOf(seed, i)
        val h = captureHash(html)
        val ord = Ordering.Tuple2[Long, Long]
        best.get(u) match {
          case Some((ots, oh, _)) if ord.compare((ots, oh), (ts, h)) >= 0 => ()
          case _ => best(u) = (ts, h, html)
        }
      }
      best.view.mapValues(_._3).toMap
    }
    val robots: Map[String, (Vector[String], Option[Double])] =
      (0 until SyntheticCorpus.NumHosts).flatMap { r =>
        if (r % 3 == 0)
          Some(s"host$r.example" -> (Vector(s"/p${(r % 10).toHexString}"),
            if (r % 9 == 0) Some(2.0) else None))
        else None
      }.toMap

    def hostOf(u: String) = PyUrl.hostOf(u)
    def pathOf(u: String) = {
      val rest = u.substring(u.indexOf("://") + 3)
      val s = rest.indexOf('/')
      if (s < 0) "/" else rest.substring(s)
    }

    // seeds (same derivation as SyntheticCorpus.seeds)
    // Same order-independent fold as SeenSet.mergeByUrl: the stored value
    // is (pure-order winner over ORIGINAL rows, running max retries); the
    // retry ticket applies only when the entry MATERIALIZES at an epoch
    // boundary — exactly where the engine's residual frontier rows
    // materialize their merged form. Folding the ticket per-merge (the
    // round-4 shape) made discoveredEpoch iterator-order-dependent with
    // >=3 same-url duplicates (r5 advisory).
    var frontier = Map.empty[String, (Candidate, Int)]
    def mat(e: (Candidate, Int)): Candidate =
      if (e._1.retries == e._2) e._1 else e._1.copy(retries = e._2)
    val seedsLocal = {
      import spark.implicits._
      SyntheticCorpus.seeds(spark, seed, N, 20).collect().toVector
    }
    def addCand(c: Candidate): Unit = frontier.get(c.url) match {
      case Some((w, m)) =>
        val keep = SeenSet.pickWinner(w, c)
        frontier += c.url -> (keep, math.max(m, c.retries))
      case None => frontier += c.url -> (c, c.retries)
    }
    for ((u, p) <- seedsLocal; cu <- PyUrl.canonicalize(u))
      addCand(Candidate(cu, hostOf(cu), p, 0, 0))

    var seen = Set.empty[String]
    val out = Vector.newBuilder[(Int, Vector[String])]
    for (epoch <- 0 until epochs) {
      // epoch boundary: merged rows materialize (the engine's residual
      // frontier carries materialized rows into the next epoch's fold)
      frontier = frontier.map { case (u, e) => val c = mat(e); u -> (c, c.retries) }
      val cands = frontier.values.map(mat).toVector
      val unseen = cands.filter(c => c.retries > 0 || !seen.contains(c.url))
      val gated = unseen.filter { c =>
        robots.get(c.host) match {
          case Some((dis, _)) => RobotsReference.allowed(RobotsRules(dis, Vector.empty, None), pathOf(c.url))
          case None => true
        }
      }
      val blocked = unseen.filterNot(gated.contains)
      val scheduled = gated.groupBy(_.host).toVector.flatMap { case (h, cs) =>
        val budget = robots.get(h).flatMap(_._2) match {
          case Some(d) => math.max(1, math.min(cfg.sched.perHostBudget, (CrawlJob.EpochWindowSec / d).toInt))
          case None    => cfg.sched.perHostBudget
        }
        cs.sortBy(c => (-c.priority, c.url)).take(budget)
      }.sortBy(c => (c.host, -c.priority, c.url))
      out += ((epoch, scheduled.map(_.url)))

      // advance state
      val schedSet = scheduled.map(_.url).toSet
      seen ++= scheduled.filter(_.retries == 0).map(_.url)
      frontier = frontier -- blocked.map(_.url) -- schedSet // residual = allowed - scheduled
      // (robots-blocked are consumed: they were removed from the frontier by the gate)
      frontier = frontier.filter { case (u, c) => !schedSet.contains(u) }
      // re-add: nothing for fetched (closed world: all scheduled exist)
      for (c <- scheduled) {
        val html = pages(c.url)
        for (link <- referenceOutlinks(html, c.url);
             cu <- PyUrl.canonicalize(link)) {
          addCand(Candidate(cu, hostOf(cu), c.priority * CrawlJob.LinkPriorityDecay, epoch, 0))
        }
      }
      // drop anything scheduled this epoch from frontier (just added links may collide)
      frontier = frontier.filter { case (u, _) => !schedSet.contains(u) }
      // drop already-seen (they'd be deduped next epoch anyway — keep; engine dedups next epoch)
    }
    (out.result(), frontier.view.mapValues(mat).toMap, seen)
  }

  // ---------- tests -----------------------------------------------------------

  test("three epochs run, counters sane, no url scheduled twice") {
    import spark.implicits._
    val (store, results) = runCrawl(3)
    assert(results.forall(_.scheduled > 0))
    assert(results.head.fetched == results.head.scheduled) // closed world
    assert(results.map(_.discovered).sum > 0)
    val sched = scheduledTable(store)
    assert(sched.nonEmpty)
    assert(sched.map(_._2).distinct.size == sched.size, "a url was scheduled twice")
    // per-host seq must be dense 0..n-1 within each (epoch, host) batch
    import spark.implicits._
    val snap = store.latest().get
    val schedDf = spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
    val bad = schedDf.groupBy("epoch", "host")
      .agg(org.apache.spark.sql.functions.min("seq").as("mn"),
           org.apache.spark.sql.functions.max("seq").as("mx"),
           org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(org.apache.spark.sql.functions.col("mn") =!= 0 ||
              org.apache.spark.sql.functions.col("mx") =!= org.apache.spark.sql.functions.col("n") - 1)
      .count()
    assert(bad == 0, "per-host seq not dense")
  }

  test("determinism: two independent runs produce identical crawl order") {
    val (s1, _) = runCrawl(3)
    val (s2, _) = runCrawl(3)
    assert(scheduledTable(s1) == scheduledTable(s2))
  }

  test("parallelism invariance: different input partitioning, identical crawl + extracted text") {
    import spark.implicits._
    val (s1, _) = runCrawl(2, inputPartitions = 3)
    val (s2, _) = runCrawl(2, inputPartitions = 11)
    assert(scheduledTable(s1) == scheduledTable(s2))
    // byte-identical extracted text per url across layouts
    def extractedMap(st: ParquetSnapshotStore): Map[String, String] = {
      val snap = st.latest().get
      spark.read.parquet(snap.tables("extracted").split(";").toIndexedSeq: _*)
        .select("url", "extracted_html").as[(String, String)].collect().toMap
    }
    val (e1, e2) = (extractedMap(s1), extractedMap(s2))
    assert(e1.keySet == e2.keySet)
    assert(e1.forall { case (u, h) => e2(u) == h }, "extracted html differs across partitionings")
  }

  test("exact resume: run 2 epochs, resume for 1 == straight 3-epoch run") {
    val (s1, _) = runCrawl(3)
    // interrupted run: 2 epochs, then a brand-new store handle resumes
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, N, 20), cfg)
    CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    // resume from the SAME directory via a brand-new store instance
    val resumed = new ParquetSnapshotStore(store.rootDir)
    val r3 = CrawlJob.runEpoch(spark, resumed, pages, robots, cfg)
    assert(r3.epoch == 2)
    assert(scheduledTable(s1) == scheduledTable(resumed))
  }

  test("crawl order and seen membership match the in-memory oracle") {
    val (store, _) = runCrawl(3)
    val got = scheduledTable(store).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expect = oracle(3)._1.toMap
    for (e <- 0 to 2) {
      assert(got.getOrElse(e.toLong, Vector.empty) == expect.getOrElse(e, Vector.empty),
        s"epoch $e order mismatch")
    }
  }

  test("frontier content matches the oracle modulo dedup and seen") {
    import spark.implicits._
    val (store, _) = runCrawl(3)
    val (_, oracleFrontier, oracleSeen) = oracle(3)
    val snap = store.latest().get
    val seenSet = store.readTable(spark, snap, "seen")
      .select("url").as[String].collect().toSet
    assert(seenSet == oracleSeen, "seen-set mismatch")
    // the engine frontier carries raw (possibly duplicate, possibly
    // already-seen) discovered links for one epoch; the schedulable set —
    // dedup'd urls that are retried or unseen — must match the oracle's
    val engineEligible = spark.read.parquet(snap.tables("frontier"))
      .select("url", "retries").as[(String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      .collect { case (u, r) if r > 0 || !seenSet.contains(u) => u }.toSet
    val oracleEligible = oracleFrontier.collect {
      case (u, c) if c.retries > 0 || !oracleSeen.contains(u) => u
    }.toSet
    assert(engineEligible == oracleEligible, "frontier schedulable-set mismatch")
  }

  test("dangling outlinks: retries bounded, frontier still drains") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val store = freshStore()
    val all = CrawlJob.preparePages(SyntheticCorpus.pages(spark, 7L, 60L, 4).toDF())
    // open-world corpus: ~1/3 of urls exist only as outlinks -> fetch misses
    val pages = all.filter(xxhash64(col("url")) % 3 =!= 0)
    val robots = SyntheticCorpus.robots(spark, 7L).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, 7L, 60L, 5), cfg)
    val results = CrawlJob.run(spark, store, pages, robots, cfg, maxEpochs = 60)
    assert(results.last.frontierSize == 0,
      "frontier must drain even when outlinks dangle (retry escalation bound)")
    assert(results.map(_.retried).sum > 0, "fixture must exercise the retry path")
    assert(results.exists(r => r.fetched < r.scheduled), "fixture must have fetch misses")
    // no url scheduled more than 1 + maxRetries times
    val snap = store.latest().get
    val counts = spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
      .select("url").as[String].collect()
      .groupBy(identity).map(_._2.size)
    assert(counts.max <= 1 + cfg.maxRetries,
      s"a url was scheduled ${counts.max} times (> 1 + maxRetries)")
  }

  test("run() drains a tiny closed corpus and terminates") {
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, 7L, 60L, 4).toDF())
    val robots = SyntheticCorpus.robots(spark, 7L).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, 7L, 60L, 5), cfg)
    val results = CrawlJob.run(spark, store, pages, robots, cfg, maxEpochs = 30)
    assert(results.nonEmpty)
    assert(results.last.frontierSize == 0, "frontier should drain in a closed world")
    assert(results.map(_.scheduled).sum > 0)
    // every corpus url reachable from seeds got scheduled at most once
    val snap = store.latest().get
    val seen = store.readTable(spark, snap, "seen")
    assert(seen.count() == seen.select("url").distinct.count())
  }

  test("crash before manifest commit: orphan table writes are invisible, resume exact") {
    val (straight, _) = runCrawl(3)
    // interrupted run: 2 committed epochs...
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, N, 20), cfg)
    CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    // ...then a crash mid-epoch-2: some tables written, NO manifest rename
    val snapBefore = store.latest().get
    store.writeTable("extracted", 2, spark.range(5).toDF("junk"))
    store.writeTable("frontier", 2, spark.range(3).toDF("junk"))
    val resumed = new ParquetSnapshotStore(store.rootDir)
    assert(resumed.latest().get.epoch == snapBefore.epoch,
      "uncommitted writes must not advance the snapshot")
    val r3 = CrawlJob.runEpoch(spark, resumed, pages, robots, cfg)
    assert(r3.epoch == 2)
    assert(scheduledTable(resumed) == scheduledTable(straight),
      "post-crash rerun must equal the uninterrupted run")
  }

  test("a failed epoch write releases every frame the epoch persisted") {
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, N, 20), cfg)
    // the real store, except that the lineage write fails
    val failing = new FrontierStore {
      def writeTable(name: String, epoch: Long, df: DataFrame, partitionBy: Seq[String]): String =
        if (name == "lineage") throw new java.io.IOException("lineage write failed")
        else store.writeTable(name, epoch, df, partitionBy)
      def commit(epoch: Long, tables: Map[String, String], counters: Map[String, Long]): Unit =
        store.commit(epoch, tables, counters)
      def latest(): Option[Snapshot] = store.latest()
      def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
        store.readTable(spark, snap, name)
      def expire(retain: Int): (Int, Int) = store.expire(retain)
    }
    val sc = spark.sparkContext
    val epochBefore = store.latest().get.epoch
    val before = sc.getPersistentRDDs.keySet.toSet
    val err = intercept[java.io.IOException](CrawlJob.runEpoch(spark, failing, pages, robots, cfg))
    assert(err.getMessage == "lineage write failed")
    val after = sc.getPersistentRDDs.keySet.toSet
    assert(after == before,
      s"cached RDDs before ${before.toSeq.sorted} after ${after.toSeq.sorted}")
    assert(store.latest().get.epoch == epochBefore, "the failed epoch must not commit")
  }

  test("recrawl: an already-crawled url is re-fetched once, seen set gains no duplicates") {
    import spark.implicits._
    val (store, _) = runCrawl(2)
    val snap0 = store.latest().get
    val crawled = spark.read.parquet(snap0.tables("scheduled").split(";").toIndexedSeq: _*)
      .select("url").as[String].collect()
    val target = crawled.head
    val seenBefore = store.readTable(spark, snap0, "seen")
      .select("url").as[String].collect().sorted.toSeq
    assert(seenBefore.contains(target), "fixture url must already be seen")
    // next epoch with the recrawl input: the url must be scheduled AGAIN
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    val r = CrawlJob.runEpoch(spark, store, pages, robots, cfg,
      recrawl = Some(spark.createDataset(Seq(target, target, "not a url"))))
    val snap1 = store.latest().get
    val lastEpoch = spark.read.parquet(snap1.tables("scheduled").split(";").last)
      .select("url").as[String].collect()
    assert(lastEpoch.count(_ == target) == 1,
      s"recrawled url must be scheduled exactly once in epoch ${r.epoch}")
    // re-extracted in this epoch
    val lastExtracted = spark.read.parquet(snap1.tables("extracted").split(";").last)
      .select("url").as[String].collect()
    assert(lastExtracted.contains(target), "recrawled url must be re-extracted")
    // seen set: still duplicate-free, and unchanged for the target
    val seenAfter = store.readTable(spark, snap1, "seen")
      .select("url").as[String].collect().toSeq
    assert(seenAfter.size == seenAfter.distinct.size, "recrawl must not duplicate seen rows")
    assert(seenAfter.count(_ == target) == 1)
  }

  test("recrawl of a NEVER-seen url registers it as seen (no future re-crawl)") {
    import spark.implicits._
    val (store, _) = runCrawl(1)
    val snap0 = store.latest().get
    val seen0 = store.readTable(spark, snap0, "seen")
      .select("url").as[String].collect().toSet
    // a corpus url that exists but has not been crawled or seen yet
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val fresh = pages.select("url").as[String].collect().find(!seen0.contains(_)).get
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.runEpoch(spark, store, pages, robots, cfg,
      recrawl = Some(spark.createDataset(Seq(fresh))))
    val snap1 = store.latest().get
    val lastSched = spark.read.parquet(snap1.tables("scheduled").split(";").last)
      .select("url").as[String].collect()
    assert(lastSched.contains(fresh), "never-seen recrawl url must be scheduled")
    val seen1 = store.readTable(spark, snap1, "seen")
      .select("url").as[String].collect().toSeq
    assert(seen1.count(_ == fresh) == 1,
      "a recrawled never-seen url must register as seen exactly once")
    // and a later epoch must NOT schedule it again
    val r2 = CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    val snap2 = store.latest().get
    val sched2 = spark.read.parquet(snap2.tables("scheduled").split(";").last)
      .select("url").as[String].collect()
    assert(!sched2.contains(fresh), s"epoch ${r2.epoch} re-crawled a registered url")
  }

  test("recrawlWithDelete: blooms kept, frontier +1 delta, url rescheduled once") {
    import spark.implicits._
    for (kind <- Seq[SeenSet.FilterKind](SeenSet.Cuckoo, SeenSet.Bloom)) {
      val kcfg = CrawlJob.Config(
        seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 14, filterKind = kind),
        sched = Scheduler.Config(perHostBudget = 4, saltFactor = 4))
      val store = freshStore()
      val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, 500L, 8).toDF())
      val robots = SyntheticCorpus.robots(spark, seed).toDF()
      CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, 500L, 10), kcfg)
      (1 to 2).foreach(_ => CrawlJob.runEpoch(spark, store, pages, robots, kcfg))
      val snap0 = store.latest().get
      // a fetched url: a refetch hits the corpus, so no retry can follow it
      val target = spark.read.parquet(snap0.tables("extracted").split(";").toIndexedSeq: _*)
        .select("url").as[String].collect().sorted.head
      def seenCount(snap: graft.store.Snapshot): Long =
        store.readTable(spark, snap, "seen").filter(org.apache.spark.sql.functions.col("url") === target).count()
      def filterSaysMaybe(snap: graft.store.Snapshot): Boolean =
        store.readTable(spark, snap, "blooms").as[SeenSet.BucketBloom].collect()
          .filter(_.bytes.nonEmpty)
          .exists(b => SeenSet.deserializeFilter(b.bytes).mightContain(target))
      assert(seenCount(snap0) == 1 && filterSaysMaybe(snap0), s"[$kind] fixture: target must be seen")

      val r = CrawlJob.recrawlWithDelete(spark, store, spark.createDataset(Seq(target)), kcfg)
      assert(r.requested == 1)
      val snap1 = store.latest().get
      assert(seenCount(snap1) == 0, s"[$kind] exact seen row must be deleted")
      // filters are not edited: the stale entry only routes the url to the
      // exact anti-join, which now finds it unseen
      assert(snap1.tables("blooms") == snap0.tables("blooms"), s"[$kind] a delete writes no blooms version")
      assert(filterSaysMaybe(snap1), s"[$kind] the filter keeps the forgotten url until compaction")
      // the frontier is appended to, not rewritten
      val segs0 = snap0.tables("frontier").split(";").toSeq
      val segs1 = snap1.tables("frontier").split(";").toSeq
      assert(segs1.length == segs0.length + 1 && segs1.init == segs0,
        s"[$kind] frontier must be the previous entry plus one delta segment: $segs1")
      val delta = spark.read.parquet(segs1.last).as[Candidate].collect()
      assert(delta.map(c => (c.url, c.retries)).toSeq == Seq((target, 0)),
        s"[$kind] the delta holds exactly the forgotten url as a plain candidate")

      // the url re-enters through the NORMAL retries=0 path, exactly once
      val re = CrawlJob.runEpoch(spark, store, pages, robots, kcfg)
      assert(!store.latest().get.tables("frontier").contains(";"),
        s"[$kind] the next epoch writes one full frontier again")
      CrawlJob.runEpoch(spark, store, pages, robots, kcfg)
      val snap2 = store.latest().get
      val after = spark.read.parquet(snap2.tables("scheduled").split(";").toIndexedSeq: _*)
        .filter(org.apache.spark.sql.functions.col("epoch") > r.epoch)
        .select("epoch", "url", "retries").as[(Long, String, Int)].collect()
        .filter(_._2 == target)
      assert(after.toSeq == Seq((re.epoch, target, 0)),
        s"[$kind] forgotten url must be re-scheduled once, with retries=0, in epoch ${re.epoch}: ${after.toSeq}")
      assert(seenCount(snap2) == 1, s"[$kind] re-registered exactly once, no duplicates")
    }
  }

  test("recrawlWithDelete crash before manifest commit: delete invisible, resume exact") {
    import spark.implicits._
    val kcfg = CrawlJob.Config(
      seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 14,
                            filterKind = SeenSet.Cuckoo),
      sched = Scheduler.Config(perHostBudget = 4, saltFactor = 4))
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, 400L, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, 400L, 10), kcfg)
    (1 to 2).foreach(_ => CrawlJob.runEpoch(spark, store, pages, robots, kcfg))
    val snapBefore = store.latest().get
    val target = spark.read.parquet(snapBefore.tables("scheduled").split(";").toIndexedSeq: _*)
      .select("url").as[String].collect().sorted.head
    // simulate the crash: the delete's table writes land, the manifest
    // rename does NOT — same failure point the runEpoch crash spec pins
    val junkTombstones = java.nio.file.Paths.get(
      store.writeDeletes("seen", snapBefore.epoch + 1, spark.range(3).toDF("junk")))
    val junkDelta = java.nio.file.Paths.get(
      store.writeTable("frontier-d", snapBefore.epoch + 1, spark.range(2).toDF("junk")))
    val resumed = new ParquetSnapshotStore(store.rootDir)
    assert(resumed.latest().get.epoch == snapBefore.epoch,
      "uncommitted delete writes must not advance the snapshot")
    // the url is STILL seen (the delete never became visible)...
    assert(store.readTable(spark, resumed.latest().get, "seen")
      .filter(org.apache.spark.sql.functions.col("url") === target).count() == 1)
    // ...and re-running the delete on the resumed store works end-to-end
    val r = CrawlJob.recrawlWithDelete(spark, resumed, spark.createDataset(Seq(target)), kcfg)
    assert(r.requested == 1)
    assert(store.readTable(spark, resumed.latest().get, "seen")
      .filter(org.apache.spark.sql.functions.col("url") === target).count() == 0)
    // the re-run delete replaced the crash's delete segment, not mixed with it
    val tombSeg = resumed.latest().get.segments("seen").last
    assert(java.nio.file.Paths.get(tombSeg).toAbsolutePath.normalize ==
      junkTombstones.toAbsolutePath.normalize)
    assert(spark.read.parquet(tombSeg).select("url").as[String].collect().toSeq == Seq(target))
    // the re-run delete replaced the crash's frontier delta, not mixed with it
    val deltaSeg = resumed.latest().get.tables("frontier").split(";").last
    assert(java.nio.file.Paths.get(deltaSeg).toAbsolutePath.normalize ==
      junkDelta.toAbsolutePath.normalize)
    assert(spark.read.parquet(deltaSeg).select("url").as[String].collect().toSeq == Seq(target))
    // a second delete crashes after its frontier delta write and the
    // operator moves on: the next epoch commits at the orphan's epoch
    val orphanDelta = java.nio.file.Paths.get(
      resumed.writeTable("frontier-d", r.epoch + 1, spark.range(2).toDF("junk")))
    CrawlJob.runEpoch(spark, resumed, pages, robots, kcfg)
    val (_, reaped) = resumed.expire(1)
    assert(reaped > 0, "expire must reap the superseded delete dirs")
    assert(!java.nio.file.Files.exists(orphanDelta),
      "expire must reap a crash-orphaned frontier delta dir")
    // once the epoch folded the committed delta into a full frontier, no
    // retained manifest references the delta dir and expire reaps it too
    assert(!java.nio.file.Files.exists(junkDelta),
      "expire must reap the frontier delta dir written at the crashed delete's epoch")
    val snapNow = resumed.latest().get
    val referenced = snapNow.tables.values.flatMap(_.split(";")).toSet
    for (seg <- referenced)
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(seg)),
        s"expire must never reap a referenced segment: $seg")
  }

  test("recrawlWithDelete fuzz: random delete sets keep the seen-set invariants across rounds") {
    import spark.implicits._
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    for (kind <- Seq[SeenSet.FilterKind](SeenSet.Cuckoo, SeenSet.Bloom)) {
      // six blooms segments (init, two epochs, trials 0-2) before the first
      // compaction: trials 0-2 append their seen deltas after their delete
      // segments, trial 3's epoch compacts
      val kcfg = CrawlJob.Config(
        seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 14, filterKind = kind,
                              maxBloomSegments = 6),
        sched = Scheduler.Config(perHostBudget = 4, saltFactor = 4))
      val store = freshStore()
      val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, 400L, 8).toDF())
      val robots = SyntheticCorpus.robots(spark, seed).toDF()
      CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, 400L, 10), kcfg)
      (1 to 2).foreach(_ => CrawlJob.runEpoch(spark, store, pages, robots, kcfg))
      def seenUrls(): Vector[String] = {
        val snap = store.latest().get
        store.readTable(spark, snap, "seen").select("url").as[String].collect().toVector.sorted
      }
      def filters(): Array[SeenSet.UrlFilter] = {
        val snap = store.latest().get
        store.readTable(spark, snap, "blooms").as[SeenSet.BucketBloom].collect()
          .filter(_.bytes.nonEmpty).map(b => SeenSet.deserializeFilter(b.bytes))
      }
      // the seed epoch's seen segment: the last trial masks all of it
      val seedSeg = 1
      for (trial <- 0 until 4) {
        val before = seenUrls()
        assert(before.nonEmpty, s"[$kind] trial $trial")
        val r = mix(trial.toLong ^ 0xDE1E7EL)
        // random subset of seen urls + garbage + a repeat; the last trial
        // takes every url of one whole seen data segment instead
        val k = 1 + (mix(r) & 3).toInt
        val victims =
          if (trial == 3) {
            val snap = store.latest().get
            store.readTable(spark, snap.copy(tables = Map("seen" -> snap.segments("seen")(seedSeg))),
              "seen").select("url").as[String].collect().toVector.sorted
          }
          else (0 until k).map(i =>
            before(((mix(r ^ i) >>> 1) % before.length).toInt)).distinct
        assert(victims.nonEmpty, s"[$kind] trial $trial")
        val input = victims ++ victims.take(1) ++ Seq("not a url", "https://never.example/x")
        // expected deletions = canonical input ∩ current seen (note: the
        // dangling never.example url gets scheduled+registered as seen by
        // the FIRST trial's epoch — fetch-missed urls are still marked seen
        // once scheduled — so later trials legitimately delete it too)
        val expectedDel = input.flatMap(PyUrl.canonicalize).distinct.filter(before.contains)
        val bloomsBefore = store.latest().get.tables("blooms")
        val res = CrawlJob.recrawlWithDelete(spark, store,
          spark.createDataset(input), kcfg)
        assert(store.latest().get.tables("blooms") == bloomsBefore,
          s"[$kind] trial $trial: a delete writes no blooms version")
        assert(res.requested == input.flatMap(PyUrl.canonicalize).distinct.length,
          s"[$kind] trial $trial: requested ${res.requested}")
        val after = seenUrls()
        assert(after == (before.toSet -- expectedDel).toVector.sorted,
          s"[$kind] trial $trial: seen table must lose exactly the deleted urls")
        val seenNow = store.readTable(spark, store.latest().get, "seen")
        assert(seenNow.schema.map(f => f.name -> f.dataType) ==
          Seq("url" -> org.apache.spark.sql.types.StringType, "bucket" -> org.apache.spark.sql.types.IntegerType),
          s"[$kind] trial $trial: seen schema after the delete: ${seenNow.schema}")
        // NO collateral false negatives: every still-seen url is still
        // covered by at least one segment filter
        val fs = filters()
        val uncovered = after.filterNot(u => fs.exists(_.mightContain(u)))
        assert(uncovered.isEmpty, s"[$kind] trial $trial: false negatives for $uncovered")
        // the victims become crawlable again through the normal path
        CrawlJob.runEpoch(spark, store, pages, robots, kcfg)
        val snap = store.latest().get
        val lastSched = spark.read.parquet(snap.tables("scheduled").split(";").last)
          .select("url", "retries").as[(String, Int)].collect()
        if (trial == 3) {
          // the compaction applied the delete segments physically: its one
          // segment's parquet rows are the masked set plus the epoch's
          // newly scheduled urls
          val segs = snap.segments("seen")
          assert(segs.length == 1, s"[$kind] trial 3's epoch must compact: $segs")
          val rows = spark.read.parquet(segs.head).select("url").as[String].collect().toVector.sorted
          assert(rows == (after.toSet ++ lastSched.map(_._1)).toVector.sorted,
            s"[$kind] the compacted seen rows differ from the model set")
        }
        for (v <- victims) {
          assert(lastSched.count(_._1 == v) == 1,
            s"[$kind] trial $trial: deleted url $v must re-schedule exactly once")
          assert(lastSched.find(_._1 == v).get._2 == 0, s"[$kind] trial $trial: normal retries=0 path")
        }
        val again = seenUrls()
        assert(again.size == again.distinct.size, s"[$kind] trial $trial: no duplicate seen rows")
        assert(victims.forall(again.contains), s"[$kind] trial $trial: victims re-registered")
      }
    }
  }

  /** A bloom-filter crawl of the 400-page corpus, non-compacting for its
    * first 12 epochs (the default maxBloomSegments). */
  private val deleteCfg = CrawlJob.Config(
    seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 14),
    sched = Scheduler.Config(perHostBudget = 4, saltFactor = 4))

  private def deleteFixture(): (ParquetSnapshotStore, org.apache.spark.sql.DataFrame,
                                org.apache.spark.sql.DataFrame, Seq[String]) = {
    import spark.implicits._
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, 400L, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, 400L, 10), deleteCfg)
    (1 to 2).foreach(_ => CrawlJob.runEpoch(spark, store, pages, robots, deleteCfg))
    val snap = store.latest().get
    val victims = store.readTable(spark, snap, "extracted").select("url").as[String]
      .collect().sorted.take(3).toSeq
    (store, pages, robots, victims)
  }

  private def isDeleteSegment(seg: String): Boolean =
    graft.store.FrontierStore.isDeletes(org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(java.nio.file.Paths.get(seg, "_schema.json")), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  test("recrawlWithDelete launches at most 3 Spark jobs and writes no seen data segment") {
    import spark.implicits._
    val (store, _, _, victims) = deleteFixture()
    val snap0 = store.latest().get
    val seenDirs = java.nio.file.Paths.get(store.rootDir, "tables", "seen")
    def versions(): Set[String] = {
      val st = Files.list(seenDirs)
      try { import scala.jdk.CollectionConverters._; st.iterator().asScala.map(_.toString).toSet }
      finally st.close()
    }
    val before = versions()
    val (r, jobs) = graft.SparkJobs.during(spark)(
      CrawlJob.recrawlWithDelete(spark, store, (victims :+ victims.head :+ "not a url").toDS(), deleteCfg))
    assert(jobs <= 3, s"one delete launched $jobs Spark jobs")
    assert(r.requested == victims.size)
    val segs = store.latest().get.segments("seen")
    assert(segs.init == snap0.segments("seen") && isDeleteSegment(segs.last),
      s"the seen entry must be the previous one plus one delete segment: $segs")
    assert(versions() == before, "a delete must not write a seen data segment")
    val seenNow = store.readTable(spark, store.latest().get, "seen").select("url").as[String].collect()
    assert(victims.forall(v => !seenNow.contains(v)), "the victims must read as unseen")
  }

  test("a failed delete write surfaces only once the tombstone write has finished") {
    import spark.implicits._
    val (store, _, _, victims) = deleteFixture()
    val epochBefore = store.latest().get.epoch
    // the real store, except that the frontier delta write fails at once
    // and the tombstone write, slowed down, records that it finished
    val tombstonesWritten = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failing = new FrontierStore {
      def writeTable(name: String, epoch: Long, df: DataFrame, partitionBy: Seq[String]): String =
        if (name == "frontier-d") throw new java.io.IOException("frontier delta write failed")
        else if (name != "seen-del") store.writeTable(name, epoch, df, partitionBy)
        else {
          Thread.sleep(500)
          val path = store.writeTable(name, epoch, df, partitionBy)
          tombstonesWritten.set(true)
          path
        }
      def commit(epoch: Long, tables: Map[String, String], counters: Map[String, Long]): Unit =
        store.commit(epoch, tables, counters)
      def latest(): Option[Snapshot] = store.latest()
      def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
        store.readTable(spark, snap, name)
      def expire(retain: Int): (Int, Int) = store.expire(retain)
    }
    val err = intercept[java.io.IOException](
      CrawlJob.recrawlWithDelete(spark, failing, victims.toDS(), deleteCfg))
    assert(err.getMessage == "frontier delta write failed")
    assert(tombstonesWritten.get, "the failure surfaced while the tombstone write was still running")
    assert(store.latest().get.epoch == epochBefore, "the failed delete must not commit")
  }

  test("lineage accounts for every fetch: per epoch, its fetched sum is the manifest counter") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, N, 20), cfg)
    // the second epoch also asks for urls no page has: fetch misses
    val misses = Seq("https://nohost-a.example/x.html", "https://nohost-b.example/y.html").toDS()
    for (recrawl <- Seq(None, Some(misses), None)) {
      val r = CrawlJob.runEpoch(spark, store, pages, robots, cfg, recrawl)
      val snap = store.latest().get
      val lineageFetched = store.readTable(spark, snap, "lineage").filter(col("epoch") === snap.epoch)
        .select(coalesce(sum(col("fetched")), lit(0L))).as[Long].head()
      assert(snap.counters("fetched") > 0 && snap.counters("fetched") == r.fetched)
      assert(lineageFetched == snap.counters("fetched"),
        s"epoch ${snap.epoch}: lineage fetched $lineageFetched, manifest ${snap.counters("fetched")}")
    }
  }

  test("recrawlWithDelete then a non-compacting epoch: resume over the delete segment is exact") {
    import spark.implicits._
    def crawl(resumeAfterDelete: Boolean): Vector[(Long, String)] = {
      val (store, pages, robots, victims) = deleteFixture()
      CrawlJob.recrawlWithDelete(spark, store, victims.toDS(), deleteCfg)
      CrawlJob.runEpoch(spark, store, pages, robots, deleteCfg)
      val s = if (!resumeAfterDelete) store else {
        val resumed = new ParquetSnapshotStore(store.rootDir)
        val segs = resumed.latest().get.segments("seen")
        assert(segs.exists(isDeleteSegment) && !isDeleteSegment(segs.last),
          s"the seen entry must hold the delete segment with the epoch's delta after it: $segs")
        resumed
      }
      CrawlJob.runEpoch(spark, s, pages, robots, deleteCfg)
      CrawlJob.runEpoch(spark, s, pages, robots, deleteCfg)
      val seen = s.readTable(spark, s.latest().get, "seen").select("url").as[String].collect()
      assert(seen.length == seen.distinct.length, "no duplicate seen rows")
      assert(victims.forall(seen.contains), "the victims are seen again")
      scheduledTable(s)
    }
    assert(crawl(resumeAfterDelete = true) == crawl(resumeAfterDelete = false),
      "resume over a delete segment diverged from the uninterrupted run")
  }

  test("preparePages projection contract: exactly (url, html), unique urls") {
    val prepared = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, 200L, 4).toDF())
    // the documented two-column contract: warc_ts is consumed by the
    // capture tie-break, text/lang deliberately dropped (scaladoc)
    assert(prepared.schema.fieldNames.toSeq == Seq("url", "html"))
    assert(prepared.schema("url").dataType == org.apache.spark.sql.types.StringType)
    assert(prepared.schema("html").dataType == org.apache.spark.sql.types.BinaryType)
    assert(prepared.count() == prepared.select("url").distinct().count())
  }

  test("no cached frames leak past an epoch (SeenSet-internal cache included)") {
    // runEpoch unpersists its eight frames AND the dedupAndFilterNew
    // internal persist (VERDICT r4 #2) — at thousands of epochs a leaked
    // block-manager entry per epoch is dead weight between GCs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, 200L, 4).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, 200L, 10), cfg)
    CrawlJob.runEpoch(spark, store, pages, robots, cfg)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"epoch left ${leaked.size} persisted RDD(s) in the block manager: $leaked")
  }

  test("robots gate blocks disallowed paths") {
    val (_, results) = runCrawl(3)
    assert(results.map(_.robotsBlocked).sum > 0, "expected some robots-blocked urls in the synthetic corpus")
  }

  test("crawl-delay budget contract: floor(window/delay) clamped to [1, perHostBudget]") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // representative delays at perHostBudget=8, epochWindowSec=10:
    //   null  -> 8 (no robots rule: full budget)
    //   0.5   -> floor(20) capped at 8
    //   2.0   -> 5
    //   3.0   -> 3
    //   10.0  -> 1 (exactly one fetch per window)
    //   100.0 -> floor(0.1)=0, FLOORED to 1 — a slow host is still crawlable
    val in = Seq(Option.empty[Double], Some(0.5), Some(2.0), Some(3.0), Some(10.0), Some(100.0))
      .toDF("crawl_delay")
    val got = in.select(CrawlJob.crawlDelayBudget(col("crawl_delay"), 8, 10.0).as("b"))
      .as[Int].collect().toSeq
    assert(got == Seq(8, 8, 5, 3, 1, 1))
  }

  test("scheduled-set anti-join carries no broadcast hint (AQE decides at runtime)") {
    // the scheduled set is unbounded at the design point (10^7-10^8 urls /
    // epoch) — a forced broadcast there is a driver/executor OOM at scale
    // (VERDICT r2 #1). The logical plan must carry NO broadcast hint; AQE
    // still broadcasts when the runtime size is actually small.
    import spark.implicits._
    val allowed = Seq(("https://a.example/x", "a.example", 1.0, 0, 0))
      .toDF("url", "host", "priority", "discoveredEpoch", "retries")
    val scheduledUrls = Seq("https://a.example/x").toDF("url")
    val residual = CrawlJob.residualFrontier(allowed, scheduledUrls)
    val hints = residual.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"residual frontier anti-join must not force a join strategy: $hints")
    assert(residual.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "residual must stay an anti-join")
  }

  test("a masked readTable carries no broadcast hint: a delete segment is as large as its url list") {
    import spark.implicits._
    val store = freshStore()
    val rows = Seq(("https://a.example/x", 1), ("https://a.example/y", 2)).toDF("url", "bucket")
    val segs = Seq(store.writeTable("t", 0, rows), store.writeDeletes("t", 1, rows.limit(1)))
    val masked = store.readTable(spark, Snapshot(1, Map("t" -> Snapshot.entry(segs)), Map.empty), "t")
    val hints = masked.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"the delete mask must not force a join strategy: $hints")
    assert(masked.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "the mask must stay an anti-join")
    assert(masked.select("url").as[String].collect().toSeq == Seq("https://a.example/y"))
  }
}
