package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.data.SyntheticCorpus
import graft.frontier.{Scheduler, SeenSet}
import graft.jobs.CrawlJob

/** Snapshot retention + orphan GC (the Iceberg expire_snapshots contract):
  * expire must bound on-disk state, never touch data referenced by a
  * retained manifest, reap crash orphans from committed-or-older epochs,
  * and leave resume EXACT. */
class SnapshotStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("snapstore-spec")
    .config("spark.sql.shuffle.partitions", 8)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  private val seed = 42L
  private val N = 800L
  private def cfg(retain: Int) = CrawlJob.Config(
    seen = SeenSet.Config(numBuckets = 8, expectedPerBucket = 1 << 14, maxBloomSegments = 3),
    sched = Scheduler.Config(perHostBudget = 4, saltFactor = 4),
    retainSnapshots = retain)

  private def freshStore() = new ParquetSnapshotStore(
    Files.createTempDirectory("snapstore").toString)

  private def runCrawl(epochs: Int, retain: Int): (ParquetSnapshotStore, CrawlJob.Config) = {
    val c = cfg(retain)
    val store = freshStore()
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, N, 12), c)
    (1 to epochs).foreach { _ => CrawlJob.runEpoch(spark, store, pages, robots, c) }
    (store, c)
  }

  private def manifestEpochs(store: ParquetSnapshotStore): Vector[Long] = {
    val s = Files.list(Paths.get(store.rootDir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("manifest-") && n.endsWith(".json"))
        .map(_.stripPrefix("manifest-").stripSuffix(".json").toLong)
        .toVector.sorted
    } finally s.close()
  }

  private def tableVersions(store: ParquetSnapshotStore, name: String): Vector[String] = {
    val dir = Paths.get(store.rootDir, "tables", name)
    if (!Files.isDirectory(dir)) return Vector.empty
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toVector.sorted
    } finally s.close()
  }

  private def scheduledTable(store: ParquetSnapshotStore): Vector[(Long, String)] = {
    import spark.implicits._
    val snap = store.latest().get
    spark.read.parquet(snap.tables("scheduled").split(";").toIndexedSeq: _*)
      .select("epoch", "host", "seq", "url")
      .as[(Long, String, Long, String)].collect()
      .toVector.sortBy(r => (r._1, r._2, r._3)).map(r => (r._1, r._4))
  }

  test("per-epoch expire bounds manifests and reaps superseded frontier versions") {
    val (store, _) = runCrawl(6, retain = 2)
    val ms = manifestEpochs(store)
    assert(ms.size == 2, s"retain=2 must keep exactly 2 manifests, got $ms")
    assert(ms == Vector(4L, 5L))
    // frontier is a full rewrite per epoch: only the two retained
    // manifests' versions may remain
    val fv = tableVersions(store, "frontier")
    assert(fv.toSet == Set("v4", "v5"), s"unreferenced frontier versions not reaped: $fv")
    // append tables keep every epoch's segment (referenced by the retained
    // manifests), so the crawl product survives GC
    val snap = store.latest().get
    for (t <- Seq("scheduled", "lineage", "extracted"))
      assert(snap.tables(t).split(";").length == 6, s"$t must carry all 6 epoch segments")
    for ((_, v) <- snap.tables; seg <- v.split(";"))
      assert(Files.isDirectory(Paths.get(seg)), s"retained manifest references deleted dir $seg")
  }

  test("GC does not change results, and resume after expiry is exact") {
    val (gcStore, _) = runCrawl(6, retain = 2)
    val (noGcStore, _) = runCrawl(6, retain = 0)
    assert(scheduledTable(gcStore) == scheduledTable(noGcStore),
      "snapshot GC must not change the crawl")
    // resume: 5 epochs (GC'd down to 2 manifests), then a fresh store
    // handle runs epoch 5 — must equal the straight 6-epoch run
    val (partial, c) = runCrawl(5, retain = 2)
    val resumed = new ParquetSnapshotStore(partial.rootDir)
    val pages = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, N, 8).toDF())
    val robots = SyntheticCorpus.robots(spark, seed).toDF()
    val r = CrawlJob.runEpoch(spark, resumed, pages, robots, c)
    assert(r.epoch == 5)
    assert(scheduledTable(resumed) == scheduledTable(noGcStore),
      "resume after expiry diverged from the uninterrupted run")
  }

  test("crash orphans from committed-or-older epochs are reaped; in-flight epoch dirs are not") {
    val (store, _) = runCrawl(3, retain = 2) // latest committed epoch = 2
    // crash leftovers: an uncommitted table at an already-committed epoch
    // (a dir NO manifest references — the append tables keep their old
    // epoch dirs referenced, so those are NOT orphans), and a stale commit
    // tmp file
    store.writeTable("scratch", 1, spark.range(4).toDF("junk"))
    Files.write(Paths.get(store.rootDir, ".manifest-1.json.tmp"), "{}".getBytes)
    // an IN-FLIGHT epoch (3 > latest committed 2) writing before its commit
    store.writeTable("frontier", 3, spark.range(2).toDF("junk"))
    val (mDel, dDel) = store.expire(2)
    assert(mDel == 0, "no extra manifests to delete on a second expire")
    assert(dDel >= 1, "the epoch-1 orphan dir must be reaped")
    assert(!Files.exists(Paths.get(store.rootDir, "tables", "scratch", "v1")),
      "orphan at committed epoch must be deleted")
    assert(!Files.exists(Paths.get(store.rootDir, ".manifest-1.json.tmp")),
      "stale commit tmp must be deleted")
    assert(Files.isDirectory(Paths.get(store.rootDir, "tables", "frontier", "v3")),
      "in-flight epoch writes (epoch > latest committed) must never be touched")
    // and the in-flight epoch can still commit + be read afterwards
    val snap = store.latest().get
    assert(snap.epoch == 2)
  }

  test("expire on an empty or single-manifest store is a no-op") {
    val store = freshStore()
    assert(store.expire(1) == ((0, 0)))
    import spark.implicits._
    val p = store.writeTable("t", 0, Seq(1, 2).toDF("x"))
    store.commit(0, Map("t" -> p), Map.empty)
    assert(store.expire(3) == ((0, 0)))
    assert(store.latest().get.epoch == 0)
  }

  /** Spark jobs started while `body` runs, counted with a listener and an
    * in-order marker job (the listener bus delivers events in order). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    sc.addSparkListener(listener)
    val out = try {
      val a = body
      sc.setJobDescription("read-marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!descriptions.contains("read-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      a
    } finally sc.removeSparkListener(listener)
    assert(descriptions.contains("read-marker"), "marker job never reached the listener")
    (out, descriptions.toArray(Array.empty[String]).toSeq.takeWhile(_ != "read-marker").size)
  }

  test("readTable: partitioned, unpartitioned and zero-row partitioned segments, no Spark job, written schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = freshStore()
    val written = Seq(("a", 1), ("b", 2)).toDF("url", "bucket")
    val segs = Seq(
      store.writeTable("t", 0, written, Seq("bucket")),
      store.writeTable("t", 1, Seq(("c", 3)).toDF("url", "bucket")),
      // leaves no parquet file at all, only _SUCCESS
      store.writeTable("t", 2, spark.emptyDataset[(String, Int)].toDF("url", "bucket"), Seq("bucket")))
    store.commit(2, Map("t" -> Snapshot.entry(segs)), Map.empty)
    val snap = store.latest().get
    assert(snap.segments("t") == segs)
    val ((table, perSeg), jobs) = jobsDuring(
      (store.readTable(spark, snap, "t"), store.readSegments(spark, snap, "t")))
    assert(jobs == 0, s"reading a 3-segment table launched $jobs Spark job(s)")
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(typed(table) == typed(written))
    assert(perSeg.forall(d => typed(d) == typed(written)))
    assert(table.as[(String, Int)].collect().sorted.toSeq == Seq(("a", 1), ("b", 2), ("c", 3)))
    assert(perSeg.map(_.count()) == Seq(2L, 1L, 0L))
    assert(perSeg(2).filter(col("bucket") === 1).count() == 0)
    assert(table.filter(col("bucket") === 2).select("url").as[String].collect().toSeq == Seq("b"))
  }

  test("store roots the manifest cannot represent are rejected; a root with spaces round-trips") {
    import spark.implicits._
    val base = Files.createTempDirectory("snaproot")
    for (bad <- Seq(",", ";", "\"", "\\", "{", "}", "\n", "\t", "\u0001", "\u007f")) {
      val root = base.resolve("crawl" + bad + "v2").toString
      intercept[IllegalArgumentException](new ParquetSnapshotStore(root))
      assert(!Files.exists(Paths.get(root)), s"a rejected root must not be created: $root")
    }
    val store = new ParquetSnapshotStore(base.resolve("crawl store v2").toString)
    val p = store.writeTable("t", 0, Seq("x", "y").toDF("url"))
    store.commit(0, Map("t" -> p), Map("n" -> 2L))
    val snap = new ParquetSnapshotStore(store.rootDir).latest().get
    assert(snap.tables == Map("t" -> p) && snap.counters == Map("n" -> 2L))
    assert(store.readTable(spark, snap, "t").as[String].collect().sorted.toSeq == Seq("x", "y"))
  }
}
