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

  private val scriptPage = ("""<p>a &amp; b &#65;</p><script>var s = "<b>x</b>";</script>""" +
    """<style>p { color: red }</style>c<script/>d""").getBytes("UTF-8")

  test("extract_text: script/style skipped, entities unescaped, <script/> is a start-end tag") {
    val df = spark.createDataFrame(Seq(("https://h.example/p.html", scriptPage))).toDF("url", "html")
    val row = df.select(GraftFunctions.extract_text(col("html"), col("url")),
      GraftFunctions.extract_all(col("html"), col("url")).getField("text")).collect()(0)
    // both observe the source, where <script/> is a start-end tag (the
    // rewrite re-serializes it as <script>, which would swallow the d)
    assert(row.getString(0) == "a & b Acd")
    assert(row.getString(1) == "a & b Acd")
  }

  private def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)

  /** An XML-plist webarchive whose main resource is `data` at
    * https://x.example/r, followed by the style sheets `css` as (url, text). */
  private def xmlArchive(mime: String, encoding: String, data: Array[Byte],
                         css: (String, String)*): Array[Byte] = {
    def res(url: String, mime: String, encoding: String, data: Array[Byte]) =
      s"<dict><key>WebResourceData</key><data>${b64(data)}</data>" +
      s"<key>WebResourceMIMEType</key><string>$mime</string>" +
      s"<key>WebResourceTextEncodingName</key><string>$encoding</string>" +
      s"<key>WebResourceURL</key><string>$url</string></dict>"
    ("""<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
      "<plist version=\"1.0\"><dict><key>WebMainResource</key>" +
      res("https://x.example/r", mime, encoding, data) +
      "<key>WebSubresources</key><array>" +
      css.map { case (u, t) => res(u, "text/css", "utf-8", t.getBytes("UTF-8")) }.mkString +
      "</array></dict></plist>").getBytes("UTF-8")
  }

  test("extract_all on a non-HTML main: the main's text as resourceText decodes it, else null") {
    val js = Files.readAllBytes(
      Paths.get(getClass.getResource("/golden/archives/nonhtml_main.webarchive").toURI))
    val plain = "h\u00e9llo \u65e5\u672c"
    val df = spark.createDataFrame(Seq(
      ("js", js),
      // utf-16 without a BOM reads little-endian, as CPython does
      ("utf16", xmlArchive("text/plain", "utf-16", plain.getBytes("UTF-16LE"))),
      ("png", xmlArchive("image/png", "utf-8", 0x89.toByte +: "PNG\r\n".getBytes("US-ASCII")))
    )).toDF("name", "body")
    val url = lit("https://x.example/r")
    val got = df.select(col("name"), GraftFunctions.extract_all(col("body"), url).as("x"),
        GraftFunctions.extract_html(col("body"), url), GraftFunctions.extract_text(col("body"), url))
      .collect().map(r => r.getString(0) -> r).toMap
    val jsSource = "console.log('hello <b> &amp;');\n"
    val jsRow = got("js").getStruct(1)
    assert(jsRow.getString(0) == jsSource)
    assert(jsRow.getString(1) == "" && jsRow.getSeq[String](2).isEmpty)
    assert(got("js").getString(2) == jsSource, "extract_html reads extracted_html")
    assert(got("js").getString(3) == "", "extract_text reads text")
    assert(got("utf16").getStruct(1).getString(0) == plain)
    assert(got("utf16").getStruct(1).getString(0) == graft.core.Rewriter.resourceText(
      graft.core.WebArchiveOps.parse(
        xmlArchive("text/plain", "utf-16", plain.getBytes("UTF-16LE"))).main))
    assert((1 to 3).forall(got("png").isNullAt), "a non-text main nulls every field")
  }

  test("an unparseable body nulls every field, extract_outlinks included") {
    val df = spark.createDataFrame(Seq(
      ("truncated bplist", "bplist00".getBytes("US-ASCII") ++ Array[Byte](0, 1, 2)),
      ("invalid utf-8", Array[Byte]('<', 'p', '>', 0xff.toByte, 0xfe.toByte))
    )).toDF("name", "body")
    val url = lit("https://x.example/r")
    for (r <- df.select(GraftFunctions.extract_all(col("body"), url),
        GraftFunctions.extract_html(col("body"), url), GraftFunctions.extract_text(col("body"), url),
        GraftFunctions.extract_outlinks(col("body"), url)).collect())
      assert((0 to 3).forall(r.isNullAt), r)
  }

  test("every field set agrees with extract_all: goldens, plain html, <script/>, a rewrite fallback") {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(getClass.getResource("/golden/archives").toURI)
    val goldens = Files.list(dir).iterator().asScala.toVector.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p))
    // two style sheets whose url() values name each other: data-URI
    // recursion passes Rewriter's depth cap and the rewrite falls back,
    // while the source tokenizes cleanly
    val cyclicHtml = """<html><head><link rel="stylesheet" href="a.css"></head>""" +
      """<body><p>cyclic &amp; styled</p><a href="next.html">next</a></body></html>"""
    val cyclic = xmlArchive("text/html", "utf-8", cyclicHtml.getBytes("UTF-8"),
      "https://x.example/a.css" -> "body { background: url(b.css) }",
      "https://x.example/b.css" -> "p { background: url(a.css) }")
    val pages = goldens ++ Seq(
      "plain" -> "<html><a href='a.html'>x</a></html>".getBytes("UTF-8"),
      "script" -> scriptPage,
      "cyclic" -> cyclic)
    val url = lit("https://x.example/r")
    val rows = spark.createDataFrame(pages).toDF("name", "body").select(col("name"),
        GraftFunctions.extract_all(col("body"), url),
        GraftFunctions.extract_html(col("body"), url),
        GraftFunctions.extract_text(col("body"), url),
        GraftFunctions.extract_outlinks(col("body"), url))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == goldens.size + 3)
    for ((name, r) <- rows) {
      val x = Option(r.getStruct(1))
      assert(Option(r.getString(2)) == x.map(_.getString(0)), s"$name: extract_html")
      assert(Option(r.getString(3)) == x.map(_.getString(1)), s"$name: extract_text")
      assert(Option(r.getSeq[String](4)) == x.map(_.getSeq[String](2)), s"$name: extract_outlinks")
    }
    // the fallback golden's source does not tokenize: its text is empty
    assert(rows("fallback.webarchive").getString(3) == "")
    // the reference's rewrite of basic falls back too, but its source
    // tokenizes: its links are the source's
    assert(rows("basic.webarchive").getSeq[String](4).size == 3)
    // the cyclic page's rewrite fell back; its text and links are the source's
    val c = rows("cyclic")
    assert(c.getString(2).startsWith("\u0000") && c.getString(2).endsWith(cyclicHtml))
    assert(c.getString(3) == "cyclic & stylednext")
    assert(c.getSeq[String](4) == Seq("https://x.example/next.html"))
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
