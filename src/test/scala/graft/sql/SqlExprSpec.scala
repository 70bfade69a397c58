package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Catalyst expression layer: SQL registration, null handling, struct
  * decode, and golden parity through the DataFrame surface. */
class SqlExprSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("sql-expr-spec")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
  }
  override def afterAll(): Unit = spark.stop()

  private lazy val wiki = Files.readAllBytes(
    Paths.get(getClass.getResource("/golden/archives/wikipedia.webarchive").toURI))
  private lazy val golden = Files.readAllBytes(
    Paths.get(getClass.getResource("/golden/tohtml/wikipedia.html").toURI))

  private def pagesDf = {
    spark.createDataFrame(Seq(
      ("https://en.wikipedia.org/wiki/Main_Page", wiki),
      ("https://x.example/plain.html", "<html><a href='a.html'>x</a></html>".getBytes("UTF-8")),
      ("https://x.example/null.html", null.asInstanceOf[Array[Byte]])
    )).toDF("url", "html")
  }

  test("extract_html via SQL matches the golden byte-for-byte") {
    pagesDf.createOrReplaceTempView("pages_t")
    val out = spark.sql(
      "SELECT url, extract_html(html, url) AS h FROM pages_t WHERE url LIKE '%wikipedia%'")
      .collect()(0).getString(1)
    assert(java.util.Arrays.equals(out.getBytes("UTF-8"), golden))
  }

  test("null body -> null extraction, no exception") {
    val rows = pagesDf.select(col("url"),
      GraftFunctions.extract_html(col("html"), col("url")).as("h")).collect()
    val byUrl = rows.map(r => r.getString(0) -> r.get(1)).toMap
    assert(byUrl("https://x.example/null.html") == null)
    assert(byUrl("https://x.example/plain.html") != null)
  }

  test("plain HTML body is wrapped as a single-resource archive") {
    val h = pagesDf.filter(col("url") === "https://x.example/plain.html")
      .select(GraftFunctions.extract_html(col("html"), col("url"))).collect()(0).getString(0)
    // a[href] is absolutized against the page url
    assert(h.contains("href=\"https://x.example/a.html\""))
  }

  test("parse_webarchive struct exposes the depth-2 schema") {
    val row = pagesDf.filter(col("url").contains("wikipedia"))
      .select(GraftFunctions.parse_webarchive(col("html")).as("a"))
      .select(col("a.main.url"), size(col("a.subresources")), size(col("a.subframes")))
      .collect()(0)
    assert(row.getString(0) == "https://en.wikipedia.org/wiki/Main_Page")
    assert(row.getInt(1) == 25)
    assert(row.getInt(2) == 0)
  }

  test("url functions: canonicalize, host, join via SQL") {
    val r = spark.sql(
      """SELECT url_canonicalize('HTTPS://Example.COM:443/a/../b?x=1#frag') AS c,
                url_host(url_canonicalize('https://u:p@HOST.example:8080/x')) AS h,
                url_join('http://a/b/c/d;p?q', '../g') AS j,
                url_canonicalize('mailto:x@y.z') AS bad""").collect()(0)
    assert(r.getString(0) == "https://example.com/b?x=1")
    assert(r.getString(1) == "host.example:8080")
    assert(r.getString(2) == "http://a/b/g")
    assert(r.get(3) == null)
  }

  test("extract_outlinks finds a/area/frame links, absolutized, deduped") {
    val html = ("""<a href="x.html">1</a><a href="x.html">dup</a>""" +
      """<area href="/y.html"><iframe src="f.html"></iframe>""" +
      """<a href="mailto:z@q.r">skip</a><a href="javascript:void(0)">skip</a>""")
      .getBytes("UTF-8")
    val df = spark.createDataFrame(Seq(("https://h.example/d/p.html", html))).toDF("url", "html")
    val row = df.select(GraftFunctions.extract_outlinks(col("html"), col("url")),
      GraftFunctions.extract_all(col("html"), col("url")).getField("outlinks")).collect()(0)
    val expected = Seq("https://h.example/d/x.html", "https://h.example/y.html",
                       "https://h.example/d/f.html")
    assert(row.getSeq[String](0) == expected, "extract_outlinks")
    assert(row.getSeq[String](1) == expected, "extract_all(...).outlinks")
  }

  test("extract_text: script/style skipped, entities unescaped, <script/> opens a script") {
    val html = ("""<p>a &amp; b &#65;</p><script>var s = "<b>x</b>";</script>""" +
      """<style>p { color: red }</style>c<script/>d""").getBytes("UTF-8")
    val df = spark.createDataFrame(Seq(("https://h.example/p.html", html))).toDF("url", "html")
    val row = df.select(GraftFunctions.extract_text(col("html"), col("url")),
      GraftFunctions.extract_all(col("html"), col("url")).getField("text")).collect()(0)
    // extract_text reads the rewritten html, where text/html re-serializes
    // <script/> as <script>: what follows it is script content. extract_all
    // observes the source, where <script/> is a start-end tag.
    assert(row.getString(0) == "a & b Ac")
    assert(row.getString(1) == "a & b Acd")
  }

  /** A webarchive whose main resource is `data`, as an XML plist. */
  private def oneResourceArchive(mime: String, encoding: String, data: Array[Byte]): Array[Byte] =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<plist version="1.0"><dict><key>WebMainResource</key><dict>
       |<key>WebResourceData</key><data>${java.util.Base64.getEncoder.encodeToString(data)}</data>
       |<key>WebResourceMIMEType</key><string>$mime</string>
       |<key>WebResourceTextEncodingName</key><string>$encoding</string>
       |<key>WebResourceURL</key><string>https://x.example/r</string>
       |</dict></dict></plist>""".stripMargin.getBytes("UTF-8")

  test("extract_all on a non-HTML main: the main's text as resourceText decodes it, else null") {
    val js = Files.readAllBytes(
      Paths.get(getClass.getResource("/golden/archives/nonhtml_main.webarchive").toURI))
    val plain = "h\u00e9llo \u65e5\u672c"
    val df = spark.createDataFrame(Seq(
      ("js", js),
      // utf-16 without a BOM reads little-endian, as CPython does
      ("utf16", oneResourceArchive("text/plain", "utf-16", plain.getBytes("UTF-16LE"))),
      ("png", oneResourceArchive("image/png", "utf-8", 0x89.toByte +: "PNG\r\n".getBytes("US-ASCII")))
    )).toDF("name", "body")
    val got = df.select(col("name"), GraftFunctions.extract_all(col("body"), lit("https://x.example/r")).as("x"))
      .collect().map(r => r.getString(0) -> Option(r.getStruct(1))).toMap
    val jsRow = got("js").get
    assert(jsRow.getString(0) == "console.log('hello <b> &amp;');\n")
    assert(jsRow.getString(1) == "" && jsRow.getSeq[String](2).isEmpty)
    assert(got("utf16").get.getString(0) == plain)
    assert(got("utf16").get.getString(0) == graft.core.Rewriter.resourceText(
      graft.core.WebArchiveOps.parse(
        oneResourceArchive("text/plain", "utf-16", plain.getBytes("UTF-16LE"))).main))
    assert(got("png").isEmpty, "a non-text main nulls the struct")
  }

  test("extract_files manifest matches the golden extraction tree") {
    import scala.jdk.CollectionConverters._
    val manifest = Files.readAllLines(
      Paths.get(getClass.getResource("/golden/extract/wikipedia/manifest.tsv").toURI))
      .asScala.filter(_.nonEmpty).map(_.split("\t")).filterNot(_(0) == "manifest.tsv")
      .map(a => a(0) -> a(1)).toMap
    val rows = pagesDf.filter(col("url").contains("wikipedia"))
      .select(explode(GraftFunctions.extract_files(col("html"), lit("page.html"))).as("f"))
      .select("f.path", "f.sha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == manifest)
  }

  test("sketch/text functions are SQL-callable with literal params") {
    val r = spark.sql(
      """SELECT simhash64('hello world') AS sh,
                size(minhash_sigs('a b c d e f', 3, 8)) AS mh,
                size(shingle_hashes('a b c d e f', 3)) AS sg,
                text_stats('The of and!').tokens AS toks,
                text_stats('The of and!').hits_en AS en
      """).collect()(0)
    assert(r.getLong(0) != 0L)
    assert(r.getInt(1) == 8)
    assert(r.getInt(2) == 4) // 6 tokens, k=3 -> 4 shingles
    assert(r.getInt(3) == 3 && r.getInt(4) == 3)
    val err = intercept[Exception](spark.sql("SELECT minhash_sigs('x', 'a', 2)").collect())
    assert(err.getMessage.contains("integer literal") || err.getMessage.contains("expected"))
  }

  test("mime predicates match the reference classes") {
    val r = spark.sql(
      """SELECT is_html_mime('text/html') a, is_html_mime('application/xhtml+xml') b,
                is_html_mime('text/css') c, is_text_mime('text/css') d,
                is_text_mime('image/png') e""").collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2) && r.getBoolean(3) && !r.getBoolean(4))
  }

  test("GraftExtensions wires without error (full injection drive-tested via spark-shell --conf spark.sql.extensions)") {
    // extensions only apply at session CREATION; the suite session already
    // exists in this JVM, so end-to-end injection is verified at the
    // deployment surface (spark-shell) — here we check the wiring code
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("expressions reject wrong input types at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT extract_html(1, 2)").collect()
    }
    assert(e.getMessage.contains("extract_html") || e.getMessage.toLowerCase.contains("binary"))
  }
}
