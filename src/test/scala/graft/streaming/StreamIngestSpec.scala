package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Structured Streaming ingest: watermarked URL dedup + extraction. */
class StreamIngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("stream-spec")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  test("streaming ingest dedups urls and extracts pages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.transform(pages)
    val q = out.writeStream.format("memory").queryName("extracted_stream")
      .outputMode("append").start()
    try {
      val t0 = new Timestamp(1700000000000L)
      val html = "<html><a href='next.html'>n</a>hello world</html>".getBytes("UTF-8")
      input.addData(
        ("https://h.example/a.html", t0, html),
        ("https://H.EXAMPLE/a.html", t0, html),   // same canonical url -> dedup
        ("https://h.example/b.html", t0, html))
      q.processAllAvailable()
      val rows = spark.sql("SELECT url, text, outlinks FROM extracted_stream").collect()
      assert(rows.length == 2, s"expected 2 deduped rows, got ${rows.length}")
      val byUrl = rows.map(r => r.getString(0) -> r).toMap
      assert(byUrl.contains("https://h.example/a.html"))
      assert(byUrl("https://h.example/a.html").getString(1).contains("hello world"))
      assert(byUrl("https://h.example/a.html").getSeq[String](2)
        .contains("https://h.example/next.html"))
    } finally q.stop()
  }

  test("windowed host stats aggregate with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.hostWindowStats(pages, window = "1 minute")
    val q = out.writeStream.format("memory").queryName("host_stats")
      .outputMode("append").start()
    try {
      val html = "<html><a href='x.html'>x</a></html>".getBytes("UTF-8")
      val t0 = 1700000000000L
      input.addData(
        ("https://a.example/1.html", new Timestamp(t0), html),
        ("https://a.example/2.html", new Timestamp(t0 + 1000), html),
        ("https://b.example/1.html", new Timestamp(t0 + 2000), html))
      q.processAllAvailable()
      // advance the watermark far enough to close the first window
      input.addData(("https://a.example/3.html", new Timestamp(t0 + 3600L * 1000), html))
      q.processAllAvailable()
      val rows = spark.sql("SELECT host, pages, outlinks FROM host_stats").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("a.example") == ((2L, 2L)), s"got $rows")
      assert(rows("b.example") == ((1L, 1L)))
    } finally q.stop()
  }

  test("host stats: an unparseable page counts as a page and adds no outlinks") {
    import spark.implicits._
    val t0 = new Timestamp(1700000000000L)
    val pages = Seq(
      ("https://a.example/1.html", t0, "<html><a href='x.html'>x</a></html>".getBytes("UTF-8")),
      ("https://a.example/2.html", t0, "bplist00".getBytes("US-ASCII") ++ Array[Byte](0, 1, 2)))
      .toDF("url", "warc_ts", "html")
    // extract_outlinks of the unparseable body is null; with ANSI off,
    // size(null) would read -1
    for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val rows = StreamIngest.hostWindowStats(pages).select("host", "pages", "outlinks")
          .as[(String, Long, Long)].collect().toSeq
        assert(rows == Seq(("a.example", 2L, 1L)), s"ansi=$ansi")
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("per-host gate: deferred urls drain in later batches (real rows, FIFO)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.hostBudget(spark, pages, perBatchBudget = 2)
    val q = out.writeStream.format("memory").queryName("host_gate")
      .outputMode("append").start()
    def rows() = spark.sql("SELECT url, status FROM host_gate").collect()
      .map(r => (r.getString(0), r.getString(1)))
    try {
      val html = Array.empty[Byte]
      val t = new Timestamp(1700000000000L)
      input.addData(
        ("https://h.example/1.html", t, html),
        ("https://h.example/2.html", t, html),
        ("https://h.example/3.html", t, html)) // 3 urls, budget 2
      q.processAllAvailable()
      val b1 = rows()
      assert(b1.collect { case (u, "served") => u }.toSet ==
        Set("https://h.example/1.html", "https://h.example/2.html"),
        s"batch-1 served set: ${b1.mkString(",")}")
      assert(b1.collect { case (u, "deferred") => u }.toSet ==
        Set("https://h.example/3.html"))
      input.addData(("https://h.example/4.html", t, html)) // batch 2
      q.processAllAvailable()
      val b2 = rows().diff(b1)
      // FIFO: the carried-over url 3 serves BEFORE the new url 4
      assert(b2.toSet == Set(
        ("https://h.example/3.html", "served"),
        ("https://h.example/4.html", "served")), s"batch-2 rows: ${b2.mkString(",")}")
      // cross-batch totals: every url served exactly once, nothing lost
      val all = rows()
      assert(all.collect { case (u, "served") => u }.sorted.toSeq ==
        (1 to 4).map(i => s"https://h.example/$i.html"))
      assert(all.count(_._2 == "deferred") == 1)
    } finally q.stop()
  }

  test("per-host gate: pending cap overflows identifiably instead of growing state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.hostBudget(spark, pages, perBatchBudget = 1, maxPending = 2)
    val q = out.writeStream.format("memory").queryName("host_gate_of")
      .outputMode("append").start()
    try {
      val html = Array.empty[Byte]
      val t = new Timestamp(1700000000000L)
      input.addData((1 to 5).map(i => (s"https://o.example/$i.html", t, html)): _*)
      q.processAllAvailable()
      val by = spark.sql("SELECT url, status FROM host_gate_of").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      assert(by("served") == Set("https://o.example/1.html"))
      assert(by("deferred") == Set("https://o.example/2.html", "https://o.example/3.html"))
      assert(by("overflow") == Set("https://o.example/4.html", "https://o.example/5.html"))
    } finally q.stop()
  }

  test("per-host gate: urls without an event time surface as 'untimed' routing rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.hostBudget(spark, pages, perBatchBudget = 2)
    val q = out.writeStream.format("memory").queryName("host_gate_ut")
      .outputMode("append").start()
    try {
      val html = Array.empty[Byte]
      val t = new Timestamp(1700000000000L)
      input.addData(
        ("https://u.example/1.html", t, html),
        ("https://u.example/2.html", null, html), // no event time
        ("https://u.example/3.html", null, html))
      q.processAllAvailable()
      val by = spark.sql("SELECT url, status FROM host_gate_ut").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      assert(by("served") == Set("https://u.example/1.html"))
      // r5 advisory: these previously vanished with no routing signal —
      // the caller routes 'untimed' to the batch scheduler
      assert(by.get("untimed").contains(
        Set("https://u.example/2.html", "https://u.example/3.html")), s"got $by")
    } finally q.stop()
  }

  test("quiet-stream recovery: pending waits out the quiet spell, drains when traffic resumes") {
    // the documented caveat (StreamIngest scaladoc + ARCHITECTURE.md): a
    // deferred url drains only on new input for its host or a fired
    // event-time timeout, and the timeout needs watermark movement — on a
    // FULLY quiet stream pending sits in the state store indefinitely.
    // This pins the recovery story: nothing is lost, and EITHER kind of
    // resumed traffic frees the rows (same-host input -> served FIFO;
    // other-host input -> watermark moves -> pending flushes as expired
    // for the caller to re-route).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.hostBudget(spark, pages, perBatchBudget = 1,
      idleTimeoutMs = 1000L, watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("host_gate_quiet")
      .outputMode("append").start()
    def rows() = spark.sql("SELECT url, status FROM host_gate_quiet").collect()
      .map(r => (r.getString(0), r.getString(1)))
    try {
      val html = Array.empty[Byte]
      val t0 = 1700000000000L
      input.addData(
        ("https://q.example/1.html", new Timestamp(t0), html),
        ("https://q.example/2.html", new Timestamp(t0), html))
      q.processAllAvailable()
      // quiet spell: empty micro-batches change NOTHING — no input, no
      // watermark movement, the pending url neither serves nor expires
      // (and is not lost)
      val afterBurst = rows()
      assert(afterBurst.toSet == Set(
        ("https://q.example/1.html", "served"),
        ("https://q.example/2.html", "deferred")))
      // traffic resumes ON THE SAME HOST -> pending drains FIFO before
      // the new url
      input.addData(("https://q.example/3.html", new Timestamp(t0 + 2000), html))
      q.processAllAvailable()
      val drained = rows().diff(afterBurst)
      assert(drained.toSet == Set(
        ("https://q.example/2.html", "served"),
        ("https://q.example/3.html", "deferred")),
        s"resumed same-host traffic must drain the queue FIFO: ${drained.mkString(",")}")
    } finally q.stop()
  }

  test("per-host gate: idle host state expires via event-time timeout, pending flushed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Byte])]
    val pages = input.toDF().toDF("url", "warc_ts", "html")
    val out = StreamIngest.hostBudget(spark, pages, perBatchBudget = 1,
      idleTimeoutMs = 1000L, watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("host_gate_exp")
      .outputMode("append").start()
    try {
      val html = Array.empty[Byte]
      val t0 = 1700000000000L
      input.addData(
        ("https://e.example/1.html", new Timestamp(t0), html),
        ("https://e.example/2.html", new Timestamp(t0), html)) // 1 served, 1 pending
      q.processAllAvailable()
      // another HOST's traffic advances the watermark far past e's timeout
      input.addData(("https://x.example/1.html", new Timestamp(t0 + 3600L * 1000), html))
      q.processAllAvailable()
      // timeouts fire on the NEXT batch after the watermark advances
      input.addData(("https://x.example/2.html", new Timestamp(t0 + 3601L * 1000), html))
      q.processAllAvailable()
      val rows = spark.sql("SELECT host, url, status FROM host_gate_exp").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(rows.contains(("e.example", "https://e.example/2.html", "expired")),
        s"pending url must flush as expired: ${rows.mkString(",")}")
      assert(rows.count(_._3 == "served") == 3) // e/1, x/1, x/2
    } finally q.stop()
  }
}
