package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

import graft.model.Candidate
import graft.data.SyntheticCorpus
import graft.jobs.CrawlJob
import graft.store.ParquetSnapshotStore

/** Seen-set semantics under the LSM shape: delta segments, multi-segment
  * reads, major compaction, and the bucket-count-adaptive pruning path. */
class SeenSetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("seenset-spec")
    .config("spark.sql.shuffle.partitions", 8)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  private def cands(urls: Seq[String]): org.apache.spark.sql.Dataset[Candidate] = {
    import spark.implicits._
    spark.createDataset(urls.map(u => Candidate(u, "h", 1.0, 0, 0)))
  }

  private def urlsOf(n: Int, tag: String): Seq[String] =
    (0 until n).map(i => s"https://host${i % 7}.example/$tag/$i")

  test("multi-segment blooms: no false negatives, dedup result bucket-count invariant") {
    import spark.implicits._
    val seenUrls = urlsOf(300, "seen")
    val freshUrls = urlsOf(200, "fresh")
    for (numBuckets <- Seq(8, 128)) {
      val cfg = SeenSet.Config(numBuckets = numBuckets, expectedPerBucket = 1 << 12)
      // seen set written as THREE delta segments (LSM read path)
      val seg = seenUrls.grouped(100).toVector
      val blooms = seg.map(g => SeenSet.buildDeltaBlooms(spark, spark.createDataset(g), cfg))
        .reduce(_ unionByName _)
      val seen = spark.createDataset(seenUrls)
        .map(u => (u, SeenSet.bucketOfUrl(u, cfg.numBuckets))).toDF("url", "bucket")
      val out = SeenSet.dedupAndFilterNew(spark,
        cands(seenUrls.take(50) ++ freshUrls ++ freshUrls.take(30) /* in-batch dupes */),
        seen, blooms, cfg)._1.collect().map(_.url).toSet
      assert(out == freshUrls.toSet,
        s"numBuckets=$numBuckets: seen urls must be filtered, fresh kept exactly once")
    }
  }

  test("retry merged with a higher-priority rediscovery keeps its ticket (no silent page loss)") {
    import spark.implicits._
    val cfg = SeenSet.Config(numBuckets = 4, expectedPerBucket = 1 << 12)
    val u = "https://host1.example/lost/page"
    val seen = spark.createDataset(Seq(u))
      .map(x => (x, SeenSet.bucketOfUrl(x, cfg.numBuckets))).toDF("url", "bucket")
    val blooms = SeenSet.buildBlooms(spark, spark.createDataset(Seq(u)), cfg)
    // the hazard pair: a fetch-miss retry (low priority) + a fresh
    // rediscovery (high priority) of the SAME seen url in one frontier —
    // the reduce picks the high-priority row; without retry preservation
    // the merged retries=0 candidate is seen-filtered and the url is
    // never re-fetched
    val cands = spark.createDataset(Seq(
      Candidate(u, "host1.example", 0.2, 0, 1), // the retry
      Candidate(u, "host1.example", 0.9, 1, 0))) // the rediscovery
    val (kept, newRetried, _) = SeenSet.dedupAndFilterNew(spark, cands, seen, blooms, cfg)
    val out = kept.collect()
    assert(out.length == 1 && out(0).url == u,
      "the merged candidate must survive the seen filter")
    assert(out(0).retries == 1 && out(0).priority == 0.9,
      s"winner keeps max priority AND the retry ticket: ${out(0)}")
    assert(newRetried.collect().isEmpty, "already-seen url must not re-register")
  }

  test("in-batch merge is iterator-order independent (3+ duplicate fold)") {
    // r5 advisory counterexample: A(0.2,r1,e7), B(0.9,r0,e5), C(0.9,r0,e2).
    // A pairwise reduceCandidates fold gives e5 for order [A,B,C] (B wins
    // priority, inherits retries=1, then beats C on the inflated retries
    // tie-break) but e2 for [B,C,A] — the fold must compare ORIGINAL
    // retries and apply the ticket once at the end: winner C, retries 1.
    import scala.jdk.CollectionConverters._
    val a = Candidate("https://h.example/x", "h.example", 0.2, 7, 1)
    val b = Candidate("https://h.example/x", "h.example", 0.9, 5, 0)
    val c = Candidate("https://h.example/x", "h.example", 0.9, 2, 0)
    val expected = c.copy(retries = 1)
    // the pairwise fold the merge must not be: pickWinner plus the max
    // retry ticket copied onto the winner at every step
    def reduceCandidates(x: Candidate, y: Candidate): Candidate = {
      val winner = SeenSet.pickWinner(x, y)
      val r = math.max(x.retries, y.retries)
      if (winner.retries == r) winner else winner.copy(retries = r)
    }
    assert(Seq(a, b, c).reduceLeft(reduceCandidates).discoveredEpoch == 5)
    assert(Seq(b, c, a).reduceLeft(reduceCandidates).discoveredEpoch == 2)
    for (perm <- Seq(a, b, c).permutations) {
      val merged = SeenSet.mergeByUrl(perm.iterator).asScala.toVector
      assert(merged == Vector(expected),
        s"fold over $perm gave $merged, want $expected")
    }
    // and end-to-end through dedupAndFilterNew (empty seen set)
    import spark.implicits._
    val cfg = SeenSet.Config(numBuckets = 4, expectedPerBucket = 1 << 12)
    val emptySeen = spark.emptyDataset[(String, Int)].toDF("url", "bucket")
    val noBlooms = spark.emptyDataset[SeenSet.BucketBloom]
    for (perm <- Seq(a, b, c).permutations) {
      val (kept, _, cache) = SeenSet.dedupAndFilterNew(
        spark, spark.createDataset(perm), emptySeen, noBlooms, cfg)
      assert(kept.collect().toVector == Vector(expected))
      cache.unpersist()
    }
  }

  test("mergeByUrl permutation invariance: 500 random multi-duplicate batches") {
    // generalizes the pinned counterexample: for ANY batch of candidates
    // (few urls, colliding priorities/retries/epochs to force deep
    // tie-break chains), every permutation folds to the same merged set
    import scala.jdk.CollectionConverters._
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    for (trial <- 0 until 500) {
      val r = mix(trial.toLong)
      val n = 3 + (mix(r ^ 1) & 7).toInt // 3..10 rows
      val batch = (0 until n).map { i =>
        val s = mix(r ^ (i + 2))
        val url = s"https://h.example/u${(s & 3)}" // <=4 urls -> duplicates
        Candidate(url, "h.example",
          priority = ((s >>> 8) & 3) * 0.25,      // colliding priorities
          discoveredEpoch = ((s >>> 16) & 7).toInt,
          retries = ((s >>> 24) & 3).toInt)
      }.toVector
      def merged(b: Vector[Candidate]): Map[String, Candidate] =
        SeenSet.mergeByUrl(b.iterator).asScala.map(c => c.url -> c).toMap
      val base = merged(batch)
      // a few deterministic permutations incl. reverse and a rotation
      val perms = Seq(batch.reverse, batch.drop(1) ++ batch.take(1),
        batch.sortBy(c => mix(c.hashCode.toLong ^ r)))
      for (p <- perms)
        assert(merged(p) == base, s"trial $trial: fold differs for permutation $p vs $batch")
    }
  }

  test("delta blooms are small, sized to actual inserts") {
    import spark.implicits._
    val cfg = SeenSet.Config(numBuckets = 4, expectedPerBucket = 1 << 20)
    val delta = SeenSet.buildDeltaBlooms(spark, spark.createDataset(urlsOf(40, "d")), cfg).collect()
    val full = SeenSet.buildBlooms(spark, spark.createDataset(urlsOf(40, "d")), cfg).collect()
    val deltaBytes = delta.map(_.bytes.length).sum
    val fullBytes = full.map(_.bytes.length).sum
    assert(deltaBytes * 100 < fullBytes,
      s"a 40-url delta ($deltaBytes B) must be far smaller than full-capacity filters ($fullBytes B)")
  }

  test("major compaction: segment count stays bounded across many epochs, crawl exact") {
    import org.apache.spark.sql.functions.col
    val cfg = CrawlJob.Config(
      seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 14, maxBloomSegments = 3),
      sched = Scheduler.Config(perHostBudget = 3, saltFactor = 4))
    val store = new ParquetSnapshotStore(Files.createTempDirectory("seenlsm").toString)
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, 11L, 120L, 4).toDF())
    val robots = SyntheticCorpus.robots(spark, 11L).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, 11L, 120L, 6), cfg)
    val results = CrawlJob.run(spark, store, pages, robots, cfg, maxEpochs = 40)
    assert(results.last.frontierSize == 0, "must drain")
    assert(results.length > cfg.seen.maxBloomSegments, "fixture must run enough epochs to compact")
    val snap = store.latest().get
    assert(snap.tables("blooms").split(";").length <= cfg.seen.maxBloomSegments,
      "bloom segment list must stay bounded by maxBloomSegments")
    assert(snap.tables("seen").split(";").length <= cfg.seen.maxBloomSegments,
      "seen segment list must stay bounded too (major compaction rewrites both)")
    // correctness across compactions: no url ever scheduled twice
    import spark.implicits._
    val urls = spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
      .select("url").as[String].collect().toSeq
    assert(urls.distinct.size == urls.size, "a url was scheduled twice across compactions")
  }

  test("128-bucket pruned seen read: directory-level skip, results == ground truth") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cfg = SeenSet.Config(numBuckets = 128, expectedPerBucket = 1 << 12)
    val seenUrls = urlsOf(600, "seen")
    val freshUrls = urlsOf(250, "fresh")
    // the design-point storage shape: seen table partitioned by bucket
    val dir = Files.createTempDirectory("seen128").toString + "/seen"
    seenUrls.map(u => (u, SeenSet.bucketOfUrl(u, cfg.numBuckets))).toDF("url", "bucket")
      .write.partitionBy("bucket").parquet(dir)
    val seenDf = spark.read.parquet(dir)
    val totalDirs = seenDf.select("bucket").distinct.count()
    assert(totalDirs > 64, "fixture must have enough occupied bucket dirs to prune")

    // (a) the prune MECHANISM: an isin over a handful of hot buckets must
    // reach the scan as a PARTITION filter that skips directories
    val hot = seenUrls.take(40).map(u => SeenSet.bucketOfUrl(u, cfg.numBuckets)).distinct.toArray
    val pruned = SeenSet.prunedSeen(seenDf, hot, cfg.numBuckets)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val scanned = scan.selectedPartitions.partitionCount
    assert(scanned <= hot.length && scanned < totalDirs,
      s"prune must skip bucket dirs: scanned=$scanned hot=${hot.length} total=$totalDirs")
    // pruned read == plain filter (no rows lost to pruning)
    assert(pruned.select("url").as[String].collect().sorted.toSeq ==
      seenDf.filter(col("bucket").isin(hot.map(Integer.valueOf).toIndexedSeq: _*))
        .select("url").as[String].collect().sorted.toSeq)
    // degenerate case: every bucket hot -> no prune (same plan as raw read)
    assert(SeenSet.prunedSeen(seenDf, (0 until 128).toArray, 128) eq seenDf)

    // (b) the >64-bucket BRANCH end-to-end: dedupAndFilterNew over the
    // partitioned table keeps exactly the fresh urls (pruning loses nothing
    // — every bloom maybe-hit's bucket is in the hot set by construction)
    val blooms = SeenSet.buildBlooms(spark, spark.createDataset(seenUrls), cfg)
    val out = SeenSet.dedupAndFilterNew(spark,
      cands(seenUrls.take(80) ++ freshUrls ++ freshUrls.take(20)),
      seenDf, blooms, cfg)._1.collect().map(_.url).toSet
    assert(out == freshUrls.toSet,
      "pruned anti-join at 128 buckets must drop seen urls and keep fresh exactly once")
  }

  test("crawl at 128 buckets (pruned branch live) matches the 8-bucket crawl order") {
    // same corpus, same politeness, only the seen-set bucket count differs:
    // the crawl order is bucket-count invariant, so running the >64-bucket
    // pruned branch through whole epochs must change nothing
    def order(numBuckets: Int): Vector[(Long, String)] = {
      import spark.implicits._
      val cfg = CrawlJob.Config(
        seen = SeenSet.Config(numBuckets = numBuckets, expectedPerBucket = 1 << 12,
                              maxBloomSegments = 2),
        sched = Scheduler.Config(perHostBudget = 3, saltFactor = 4))
      val store = new ParquetSnapshotStore(Files.createTempDirectory(s"crawl$numBuckets").toString)
      val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, 13L, 300L, 4).toDF())
      val robots = SyntheticCorpus.robots(spark, 13L).toDF()
      CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, 13L, 300L, 8), cfg)
      (1 to 4).foreach { _ => CrawlJob.runEpoch(spark, store, pages, robots, cfg) }
      val snap = store.latest().get
      spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
        .select("epoch", "host", "seq", "url").as[(Long, String, Long, String)]
        .collect().toVector.sortBy(r => (r._1, r._2, r._3)).map(r => (r._1, r._4))
    }
    assert(order(128) == order(8),
      "crawl order must be invariant to the seen-set bucket count (pruned vs plain branch)")
  }

  test("cuckoo filter kind: crawl order and seen set identical to bloom, compaction live") {
    // same corpus + politeness, only the approximate filter differs; with
    // maxBloomSegments=2 the run crosses a MAJOR COMPACTION, so delta
    // build, multi-segment union reads, and the full rebuild all execute
    // under the cuckoo payload
    def run(kind: SeenSet.FilterKind): (Vector[(Long, String)], Set[String], Long) = {
      import spark.implicits._
      val cfg = CrawlJob.Config(
        seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 12,
                              maxBloomSegments = 2, filterKind = kind),
        sched = Scheduler.Config(perHostBudget = 3, saltFactor = 4))
      val store = new ParquetSnapshotStore(Files.createTempDirectory(s"crawl$kind").toString)
      val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, 29L, 400L, 4).toDF())
      val robots = SyntheticCorpus.robots(spark, 29L).toDF()
      CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, 29L, 400L, 8), cfg)
      val rs = (1 to 5).map(_ => CrawlJob.runEpoch(spark, store, pages, robots, cfg))
      val snap = store.latest().get
      val sched = spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
        .select("epoch", "host", "seq", "url").as[(Long, String, Long, String)]
        .collect().toVector.sortBy(r => (r._1, r._2, r._3)).map(r => (r._1, r._4))
      val seen = store.readTable(spark, snap, "seen")
        .select("url").as[String].collect().toSet
      (sched, seen, rs.map(_.fetched).sum)
    }
    val (bSched, bSeen, bFetched) = run(SeenSet.Bloom)
    val (cSched, cSeen, cFetched) = run(SeenSet.Cuckoo)
    assert(cSched == bSched, "crawl order must be filter-kind invariant")
    assert(cSeen == bSeen, "seen set must be filter-kind invariant")
    assert(cFetched == bFetched && bFetched > 0)
  }

  test("allowedPath matches RobotsRules.allowed") {
    val dis = Vector("/private", "/tmp", "/a/b")
    val alw = Vector("/private/ok", "/a")
    val rules = RobotsRules(dis, alw, None)
    for (p <- Seq("/", "/private", "/private/ok/x", "/a/b/c", "/a/c", "/tmp/x", "", "/x"))
      assert(RobotsRules.allowedPath(dis, alw, p) == RobotsReference.allowed(rules, p), s"path $p")
  }
}
