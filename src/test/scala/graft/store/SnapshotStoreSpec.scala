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

  private def jobsDuring[A](body: => A): (A, Int) = graft.SparkJobs.during(spark)(body)

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
    val (table, jobs) = jobsDuring(store.readTable(spark, snap, "t"))
    assert(jobs == 0, s"reading a 3-segment table launched $jobs Spark job(s)")
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(typed(table) == typed(written))
    assert(table.as[(String, Int)].collect().sorted.toSeq == Seq(("a", 1), ("b", 2), ("c", 3)))
    assert(table.filter(col("bucket") === 2).select("url").as[String].collect().toSeq == Seq("b"))
    val emptySeg = Snapshot(2, Map("t" -> segs(2)), Map.empty)
    assert(store.readTable(spark, emptySeg, "t").filter(col("bucket") === 1).count() == 0)
  }

  test("readTable merge-on-read: a delete segment masks only older data segments") {
    import spark.implicits._
    val store = freshStore()
    def rows(xs: (String, Int)*) = xs.toDF("url", "bucket")
    // data A (bucket-partitioned, the compacted layout), delete D1, data B
    // re-adding a masked key, a second delete D2, a zero-row delete D3
    val a = store.writeTable("t", 0, rows(("a", 1), ("b", 2), ("c", 3)), Seq("bucket"))
    val d1 = store.writeDeletes("t", 1, rows(("b", 2), ("x", 9)))
    val b = store.writeTable("t", 2, rows(("b", 2), ("d", 4)))
    val d2 = store.writeDeletes("t", 3, rows(("b", 2), ("a", 1)))
    val d3 = store.writeDeletes("t", 4, spark.emptyDataset[(String, Int)].toDF("url", "bucket"))
    def read(segs: String*): Seq[(String, Int)] = {
      val snap = Snapshot(0, Map("t" -> Snapshot.entry(segs)), Map.empty)
      val (df, jobs) = jobsDuring(store.readTable(spark, snap, "t"))
      assert(jobs == 0, s"building a read over ${segs.size} segments launched $jobs Spark job(s)")
      assert(df.schema.map(f => f.name -> f.dataType) == rows().schema.map(f => f.name -> f.dataType))
      df.as[(String, Int)].collect().sorted.toSeq
    }
    assert(read(a, d1) == Seq(("a", 1), ("c", 3)))
    // (A - D1) ∪ B: the key re-added after its delete reads again, once
    assert(read(a, d1, b) == Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
    // a second delete masks both copies of b, and a
    assert(read(a, d1, b, d2) == Seq(("c", 3), ("d", 4)))
    // a zero-row delete segment masks nothing
    assert(read(a, d3) == Seq(("a", 1), ("b", 2), ("c", 3)))
    assert(read(a, d1, b, d2, d3) == Seq(("c", 3), ("d", 4)))
    // the store knows a delete segment from its stored schema alone
    def schemaOf(seg: String) = org.apache.spark.sql.types.DataType.fromJson(new String(
      Files.readAllBytes(Paths.get(seg, "_schema.json")), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(Seq(d1, d2, d3).forall(d => FrontierStore.isDeletes(schemaOf(d))))
    assert(Seq(a, b).forall(d => !FrontierStore.isDeletes(schemaOf(d))))
    intercept[IllegalArgumentException](read(d1))
  }

  test("expire keeps referenced delete segments and reaps them once a compaction supersedes them") {
    import spark.implicits._
    val store = freshStore()
    val a = store.writeTable("t", 0, Seq(("a", 1), ("b", 2)).toDF("url", "bucket"))
    store.commit(0, Map("t" -> a), Map.empty)
    val d = store.writeDeletes("t", 1, Seq(("a", 1)).toDF("url", "bucket"))
    store.commit(1, Map("t" -> store.latest().get.append("t", d)), Map.empty)
    val b = store.writeTable("t", 2, Seq(("a", 1)).toDF("url", "bucket"))
    store.commit(2, Map("t" -> store.latest().get.append("t", b)), Map.empty)
    store.expire(1)
    assert(Seq(a, d, b).forall(p => Files.isDirectory(Paths.get(p))),
      "the retained manifest references the delete segment and the segments around it")
    // a compaction rewrites the table from the masked read: one segment
    val compacted = store.writeTable("t", 3, store.readTable(spark, store.latest().get, "t"))
    store.commit(3, Map("t" -> compacted), Map.empty)
    val (_, reaped) = store.expire(1)
    assert(reaped == 3 && Seq(a, d, b).forall(p => !Files.exists(Paths.get(p))),
      "the superseded data and delete segments must be reaped")
    assert(store.readTable(spark, store.latest().get, "t").as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a", 1), ("b", 2)))
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
