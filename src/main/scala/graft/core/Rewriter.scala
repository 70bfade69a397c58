package graft.core

import graft.model._

/** Webarchive -> HTML extraction engine.
  *
  * Replicates the reference's observable output byte-for-byte:
  *  - HTML re-serialization through an event parser
  *    (/root/reference/webarchive/util.py:22-221)
  *  - CSS url() rewriting (util.py:236-276)
  *  - 3-way URL resolution local-path / data-URI / absolute
  *    (webarchive.py:363-404) and data-URI recursion (webresource.py:107-133)
  *  - exception fallback incl. the reference's truncate-without-seek NUL
  *    padding (util.py:300-311), pinned by the `fallback` golden fixture.
  */
object Rewriter {

  /** Control-flow exception (the reference uses WebArchiveError for every
    * lookup miss, ~hundreds per page): stackless — writable stack traces
    * would dominate the rewrite hot path. */
  final class WebArchiveError(msg: String)
      extends RuntimeException(msg, null, false, false)

  /** Python str(resource): strict decode with the resource encoding;
    * TypeError for non-text resources. */
  def resourceText(r: WResource): String = {
    if (!Mime.isText(r.mimeType))
      throw new IllegalArgumentException("cannot convert non-text resource to str")
    PyCharsets.codec(r.textEncoding.getOrElse("utf-8")).decode(r.data)
  }

  /** Python str.encode(encoding), strict. */
  def encodeText(s: String, encoding: String): Array[Byte] =
    PyCharsets.codec(encoding).encode(s)

  // --- archive context --------------------------------------------------------

  /** Per-archive derived state: local-path index + url-keyed subresource map
    * (the reference's O(n) scans replaced by hash lookups — same results). */
  final class ArchiveCtx(val archive: WArchive) {
    // j.u.HashMap, not scala immutable Map: these two lookups run once per
    // rewritten attribute / css url() — the extraction hot path
    private val localPathIndex: java.util.HashMap[String, String] = {
      val m = new java.util.HashMap[String, String]()
      WebArchiveOps.makeLocalPaths(archive).foreach { case (k, v) => m.put(k, v) }
      m
    }
    private val subresourceIndex: java.util.HashMap[String, WResource] = {
      val m = new java.util.HashMap[String, WResource]()
      // reverse so the FIRST occurrence wins (reference scans list in order)
      archive.subresources.reverseIterator.foreach(r => m.put(r.url, r))
      m
    }

    /** Null on miss — the hot path's COMMON case (most urls on a page are
      * external); the throwing accessors below keep reference API parity
      * (webarchive.py get_subresource/local paths raise WebArchiveError). */
    private[core] def subresourceOrNull(url: String): WResource =
      // the "://" check precedes the lookup (webarchive.py:266-267), so
      // data: subresource URLs miss here and resolve to their absolute URL
      if (!url.contains("://")) null else subresourceIndex.get(url)

    private[core] def localPathOrNull(url: String): String = localPathIndex.get(url)

    def getSubresource(url: String): WResource = {
      if (!url.contains("://")) throw new WebArchiveError("must specify an absolute URL")
      val r = subresourceIndex.get(url)
      if (r == null) throw new WebArchiveError("no subresource for the specified URL")
      r
    }

    def getLocalPath(url: String): String = {
      val p = localPathIndex.get(url)
      if (p == null) throw new WebArchiveError("no local path for the specified URL")
      p
    }

    /** Per-archive data-URI memo (SURVEY.md §3.3): to_data_uri is a pure
      * function of (resource, archive), and a subresource referenced N
      * times would otherwise re-run base64/CSS-recursion N times. Ctx
      * instances are per-operation (thread-confined). */
    private[core] val dataUriMemo = new java.util.HashMap[String, String]()
  }

  /** webarchive.py:347-361 */
  def getAbsoluteUrl(ctx: ArchiveCtx, url: String, base: String): String = {
    val b =
      if (base == null || base.isEmpty) ctx.archive.main.url
      else if (!base.contains("://")) throw new WebArchiveError("base must be an absolute URL")
      else base
    PyUrl.urljoin(b, url)
  }

  /** webarchive.py:363-404. subresourceDir: null => data-URI mode,
    * "" => same-dir local path, else "dir/path". */
  def getLocalUrl(ctx: ArchiveCtx, subresourceDir: String, origUrl: String,
                  base: String, depth: Int): String = {
    val absUrl = getAbsoluteUrl(ctx, origUrl, base)
    if (subresourceDir == null) {
      // memo first: a repeated reference skips the subresource map
      // lookup entirely (memo keys are subresource urls, so a hit
      // implies getSubresource(absUrl) would succeed with res.url ==
      // absUrl and toDataUri would return exactly this value)
      val memod = ctx.dataUriMemo.get(absUrl)
      if (memod != null) memod
      else {
        val res = ctx.subresourceOrNull(absUrl)
        if (res == null) absUrl // lookup miss = reference's caught WebArchiveError
        else
          try toDataUri(ctx, res, depth + 1)
          catch { case _: WebArchiveError => absUrl }
      }
    } else {
      val localPath = ctx.localPathOrNull(absUrl)
      if (localPath == null) absUrl
      else if (subresourceDir.nonEmpty) subresourceDir + "/" + localPath
      else localPath
    }
  }

  /** Recursion guard: the reference recurses unboundedly on cyclic CSS and
    * dies with RecursionError, which its own caller turns into the raw-text
    * fallback; a depth cap surfaces the same observable behavior. */
  private val MaxDepth = 60

  /** webresource.py:107-133 */
  def toDataUri(ctx: ArchiveCtx, res: WResource, depth: Int): String = {
    if (depth > MaxDepth) throw new IllegalStateException("data-URI recursion too deep")
    val memoKey = res.url
    val memod = ctx.dataUriMemo.get(memoKey)
    if (memod != null) return memod
    val data: Array[Byte] =
      if (res.url == ctx.archive.main.url) {
        encodeText(toHtmlInner(ctx, depth), res.textEncoding.getOrElse("utf-8"))
      } else if (res.mimeType == "text/css") {
        val sb = new StringBuilder(res.data.length)
        processCssResource(ctx, res, sb, null, depth)
        encodeText(sb.toString, res.textEncoding.getOrElse("utf-8"))
      } else res.data
    val uri = buildDataUri(res.mimeType, data)
    ctx.dataUriMemo.put(memoKey, uri)
    uri
  }

  /** Single-allocation data-URI assembly. The naive
    * `"data:"+mime+";base64,"+encodeToString(data)` walks the (often
    * multi-hundred-KB) base64 text through five copies (encoder byte[],
    * String ctor, builder append, builder inflate-risk, toString);
    * profiled at ~19% of to_html. Base64 output and the prefix are ASCII,
    * so one exact-size byte[] + the latin1 constructor (a straight copy)
    * yields the identical string in three passes. */
  private def buildDataUri(mime: String, data: Array[Byte]): String = {
    var ascii = true
    var i = 0
    while (i < mime.length && ascii) { if (mime.charAt(i) > 0x7F) ascii = false; i += 1 }
    if (!ascii) // non-ASCII mime type: rare, correctness over speed
      return "data:" + mime + ";base64," + java.util.Base64.getEncoder.encodeToString(data)
    val b64 = java.util.Base64.getEncoder.encode(data)
    val all = new Array[Byte](5 + mime.length + 8 + b64.length)
    var o = 0
    def putAscii(s: String): Unit = {
      var k = 0
      while (k < s.length) { all(o) = s.charAt(k).toByte; o += 1; k += 1 }
    }
    putAscii("data:")
    putAscii(mime)
    putAscii(";base64,")
    System.arraycopy(b64, 0, all, o, b64.length)
    new String(all, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  // --- CSS (util.py:236-276) --------------------------------------------------

  /** Hand-rolled findall for the reference's `url\(([^\)]+)\)` —
    * the regex's Boyer-Moore scan was ~5% of the 1-core extraction
    * profile (r5 JFR). Exact emulation, property-differentialed against
    * the Pattern in PropertySpec:
    *  - a match is `url(` + >=1 non-')' chars + `)`; the group is the
    *    inside; scanning resumes AFTER the full match (regex find()
    *    semantics);
    *  - `url()` (empty group) cannot match at that position — the engine
    *    advances one char and keeps looking (overlap-safe: resume s+1);
    *  - no ')' anywhere right of a `url(` means no further match exists
    *    at all (every later candidate also lacks the closing paren). */
  private[core] def cssUrlFindAll(content: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var from = 0
    var done = false
    while (!done) {
      val s = content.indexOf("url(", from)
      if (s < 0) done = true
      else {
        val rp = content.indexOf(')', s + 4)
        if (rp < 0) done = true
        else if (rp == s + 4) from = s + 1
        else {
          b += content.substring(s + 4, rp)
          from = rp + 1
        }
      }
    }
    b.result()
  }

  /** Rewrites url() values; base for resolution is the style sheet's URL.
    *
    * Reference semantics (util.py:236-276), applied literally: findall on
    * the ORIGINAL content, then `content = content.replace(match, local)`
    * for every resolved occurrence in order, duplicates kept. Each replace
    * rescans the current string, so later pairs see (and may rewrite) text
    * inserted by earlier ones, and a duplicated match whose replacement
    * contains it is rewritten once per occurrence. The cost is k scans and
    * copies of the sheet for k resolved url() refs. */
  def processCssResource(ctx: ArchiveCtx, res: WResource, output: StringBuilder,
                         subresourceDir: String, depth: Int): Unit = {
    if (res.mimeType != "text/css")
      throw new IllegalArgumentException("res must have mime_type == 'text/css'")
    var content = resourceText(res)
    // getLocalUrl is deterministic per (ctx, dir, m, base) and toDataUri
    // memoizes, so duplicate occurrences reuse the first resolution
    val firstLocal = scala.collection.mutable.HashMap.empty[String, String]
    for (m0 <- cssUrlFindAll(content)) {
      var m = m0
      if (m.startsWith("\"") || m.startsWith("'")) m = m.substring(1)
      if (m.endsWith("\"") || m.endsWith("'")) m = m.substring(0, m.length - 1)
      if (m.nonEmpty) {
        val localUrl = firstLocal.getOrElseUpdate(m,
          getLocalUrl(ctx, subresourceDir, m, res.url, depth))
        if (localUrl != m) content = content.replace(m, localUrl)
      }
    }
    output.append(content)
  }

  // --- HTML (util.py:22-221, 279-311) ------------------------------------------

  private val VOID_ELEMENTS = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr", "command", "keygen", "menuitem")

  private final class HtmlRewriteHandler(
      ctx: ArchiveCtx, res: WResource, output: StringBuilder,
      subresourceDir: String, depth: Int) extends HtmlTok.Handler {

    private var isXhtml = res.mimeType == "application/xhtml+xml"
    private val styleBuffer = new StringBuilder
    private var inStyleBlock = false

    private def resourceUrl(origUrl: String): String =
      getLocalUrl(ctx, subresourceDir, origUrl, null, depth)

    private def processAttrValue(tag: String, attr: String, value: String): String = {
      var v = value
      if ((tag == "a" && attr == "href") || (tag == "form" && attr == "action"))
        v = getAbsoluteUrl(ctx, v, null)
      else if (attr == "src" || (tag == "link" && attr == "href"))
        v = resourceUrl(v)
      else if (attr == "srcset") {
        val items = v.split(",", -1).map(HtmlTok.pyStrip)
        val out = items.map { item =>
          val sp = item.indexOf(' ')
          if (sp >= 0) {
            val src = item.substring(0, sp)
            val size = item.substring(sp + 1)
            resourceUrl(src) + " " + size
          } else resourceUrl(item)
        }
        v = out.mkString(", ")
      }
      PyHtml.escape(v)
    }

    private def buildStarttag(tag: String, attrs: List[(String, String)],
                              isEmpty: Boolean): String = {
      val sb = new StringBuilder
      sb.append('<').append(tag)
      for ((attr, value) <- attrs) {
        sb.append(' ').append(attr)
        if (value != null) {
          sb.append("=\"").append(processAttrValue(tag, attr, value)).append('"')
        } else if (isXhtml) {
          sb.append("=\"").append(attr).append('"')
        }
      }
      if (isXhtml && (isEmpty || VOID_ELEMENTS.contains(tag))) sb.append(" />")
      else sb.append('>')
      sb.toString
    }

    private def flushStyleBuffer(): Unit = {
      val cssRes = WResource(
        encodeText(styleBuffer.toString, res.textEncoding.getOrElse("utf-8")),
        "text/css", res.url, res.textEncoding, None)
      processCssResource(ctx, cssRes, output, subresourceDir, depth)
      styleBuffer.clear()
    }

    override def starttag(tag: String, attrs: List[(String, String)]): Unit = {
      if (tag == "style") inStyleBlock = true
      output.append(buildStarttag(tag, attrs, isEmpty = false))
    }
    override def startendtag(tag: String, attrs: List[(String, String)]): Unit =
      output.append(buildStarttag(tag, attrs, isEmpty = true))
    override def endtag(tag: String): Unit = {
      if (tag == "style") { inStyleBlock = false; flushStyleBuffer() }
      output.append("</").append(tag).append('>')
    }
    override def data(d: String): Unit =
      if (inStyleBlock) styleBuffer.append(d) else output.append(d)
    override def entityref(name: String): Unit =
      output.append('&').append(name).append(';')
    override def charref(name: String): Unit =
      output.append("&#").append(name).append(';')
    override def comment(d: String): Unit =
      output.append("<!--").append(d).append("-->")
    override def decl(d: String): Unit = {
      output.append("<!").append(d).append('>')
      if (d.contains("//DTD XHTML ")) isXhtml = true
    }
  }

  /** util.py:279-311 — rewrite HTML; on ANY internal error fall back to the
    * reference's observable behavior: NUL x chars-already-written + raw text.
    * `observer`, when given, sees every event of the rewrite's tokenizer
    * pass. Returns whether the fallback ran. */
  def processHtmlResource(ctx: ArchiveCtx, res: WResource, output: StringBuilder,
                          subresourceDir: String, depth: Int,
                          observer: PageObserver = null): Boolean = {
    if (!Mime.isHtml(res.mimeType))
      throw new IllegalArgumentException("res must be text/html or application/xhtml+xml")
    val start = output.length
    val text = resourceText(res) // decode errors propagate (same as reference)
    try {
      val h = new HtmlRewriteHandler(ctx, res, output, subresourceDir, depth)
      HtmlTok.tokenize(text, if (observer == null) h else observer.forwardingTo(h))
      false
    } catch {
      case _: Throwable =>
        // reference bug replicated: output.truncate(0) without seek leaves
        // the stream position -> NUL padding of the already-written length
        val written = output.length
        output.setLength(start)
        var i = start
        while (i < written) { output.append('\u0000'); i += 1 }
        output.append(text)
        true
    }
  }

  /** The one definition of a page's visible text and outlinks, observed on
    * a tokenizer pass:
    *  - text is the data outside script/style, entityrefs and charrefs
    *    unescaped;
    *  - outlinks are a/area href and frame/iframe src values joined onto
    *    `baseUrl` (urljoin) and kept when http(s), in first-seen order
    *    without duplicates; with a null `baseUrl` none are collected.
    * Used alone, or ahead of the rewrite (see [[forwardingTo]]) so one pass
    * serves both. */
  final class PageObserver(baseUrl: String) extends HtmlTok.Handler {
    private val sb = new StringBuilder
    private var skip = 0
    private val links = scala.collection.mutable.LinkedHashSet.empty[String]
    private var next: HtmlTok.Handler = PageObserver.Ignore

    /** This observer, passing every event on to `h` after observing it. */
    private[core] def forwardingTo(h: HtmlTok.Handler): PageObserver = { next = h; this }

    private def open(tag: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      if (!selfClosing && (tag == "script" || tag == "style")) skip += 1
      if (baseUrl != null) for ((a, v) <- attrs if v != null && v.nonEmpty) {
        if (((tag == "a" || tag == "area") && a == "href") ||
            ((tag == "frame" || tag == "iframe") && a == "src")) {
          val abs = try PyUrl.urljoin(baseUrl, v) catch { case _: Exception => null }
          if (abs != null && (abs.startsWith("http://") || abs.startsWith("https://")))
            links += abs
        }
      }
    }

    override def starttag(tag: String, attrs: List[(String, String)]): Unit = {
      open(tag, attrs, selfClosing = false); next.starttag(tag, attrs)
    }
    override def startendtag(tag: String, attrs: List[(String, String)]): Unit = {
      open(tag, attrs, selfClosing = true); next.startendtag(tag, attrs)
    }
    override def endtag(tag: String): Unit = {
      if ((tag == "script" || tag == "style") && skip > 0) skip -= 1
      next.endtag(tag)
    }
    override def data(d: String): Unit = { if (skip == 0) sb.append(d); next.data(d) }
    override def entityref(name: String): Unit = {
      if (skip == 0) sb.append(PyHtml.unescape(s"&$name;")); next.entityref(name)
    }
    override def charref(name: String): Unit = {
      if (skip == 0) sb.append(PyHtml.unescape(s"&#$name;")); next.charref(name)
    }
    override def comment(d: String): Unit = next.comment(d)
    override def decl(d: String): Unit = next.decl(d)
    override def pi(d: String): Unit = next.pi(d)
    override def unknownDecl(d: String): Unit = next.unknownDecl(d)

    def text: String = sb.toString
    def outlinks: Vector[String] = links.toVector
  }

  object PageObserver {
    private object Ignore extends HtmlTok.Handler {
      def starttag(tag: String, attrs: List[(String, String)]): Unit = ()
      def startendtag(tag: String, attrs: List[(String, String)]): Unit = ()
      def endtag(tag: String): Unit = ()
      def data(d: String): Unit = ()
      def entityref(name: String): Unit = ()
      def charref(name: String): Unit = ()
      def comment(d: String): Unit = ()
      def decl(d: String): Unit = ()
    }
  }

  /** The fields of a page extraction, as bits of a field set; bit `1 << i`
    * is field `i` of the (extracted_html, text, outlinks) result. */
  final val HtmlField = 1
  final val TextField = 2
  final val OutlinksField = 4
  final val AllFields = HtmlField | TextField | OutlinksField

  /** Page extraction of the fields in the set `fields`, one rule for all:
    *  - the main's `resourceText` decode errors propagate, whatever the set;
    *  - extracted_html is the rewrite, NUL-padding fallback included; on a
    *    non-HTML main it is the decoded main;
    *  - text and outlinks are what [[PageObserver]] sees on the source's
    *    tokenizer pass, whether or not the rewrite fell back; both are
    *    empty when the tokenizer throws or the main is not HTML;
    *  - a field outside the set is null (outlinks: empty).
    * With extracted_html the observer rides the rewrite's one pass; a set
    * without it tokenizes the source once and runs no rewrite. */
  def extract(archive: WArchive, fields: Int): (String, String, Vector[String]) = {
    val main = archive.main
    val linkBase = if ((fields & OutlinksField) != 0) main.url else null
    val (html, obs) =
      if (!Mime.isHtml(main.mimeType)) (resourceText(main), null)
      else if ((fields & HtmlField) == 0) (null, observe(resourceText(main), linkBase))
      else {
        val out = new StringBuilder(main.data.length) // rewrite output >= input
        val obs = if ((fields & (TextField | OutlinksField)) != 0) new PageObserver(linkBase) else null
        if (processHtmlResource(new ArchiveCtx(archive), main, out, null, 0, obs) && obs != null)
          (out.toString, observe(resourceText(main), linkBase)) // rare: rewrite fell back
        else (out.toString, obs)
      }
    (if ((fields & HtmlField) != 0) html else null,
     if ((fields & TextField) == 0) null else if (obs == null) "" else obs.text,
     if (obs == null) Vector.empty else obs.outlinks)
  }

  /** The observer after a tokenizer pass over `text` alone; null when the
    * tokenizer throws (caught as broadly as the rewrite's fallback). */
  private def observe(text: String, linkBase: String): PageObserver = {
    val obs = new PageObserver(linkBase)
    try { HtmlTok.tokenize(text, obs); obs } catch { case _: Throwable => null }
  }

  /** Every field in one tokenizer pass: [[extract]] of [[AllFields]]. */
  def extractAll(archive: WArchive): (String, String, Vector[String]) = extract(archive, AllFields)

  private def toHtmlInner(ctx: ArchiveCtx, depth: Int): String = {
    // presize to the input size: output is >= input for a rewrite, and
    // growing from the default 16 chars costs ~13 array doublings per page
    val out = new StringBuilder(ctx.archive.main.data.length)
    processHtmlResource(ctx, ctx.archive.main, out, null, depth)
    out.toString
  }

  /** webarchive.py:293-305 — single-file extraction to a string. */
  def toHtml(archive: WArchive): String = toHtmlInner(new ArchiveCtx(archive), 0)

  // --- multi-file extraction (webarchive.py:93-225, 307-345) -------------------

  /** Multi-file extraction as (relativePath -> bytes), mirroring
    * extract(output_path) with output basename `outName` (extension split
    * off for the `<base>_files` dir). Subframes recurse with their own ctx. */
  def extractFiles(archive: WArchive, outName: String): Vector[(String, Array[Byte])] = {
    val ctx = new ArchiveCtx(archive)
    val out = Vector.newBuilder[(String, Array[Byte])]
    val dot = {
      val d = outName.lastIndexOf('.')
      if (d <= 0) outName.length else d
    }
    val base = outName.substring(0, dot)
    val subresourceDirBase = base + "_files"

    // main resource
    val mainBytes: Array[Byte] =
      if (Mime.isHtml(archive.main.mimeType)) {
        val sb = new StringBuilder(archive.main.data.length)
        processHtmlResource(ctx, archive.main, sb, subresourceDirBase, 0)
        encodeText(sb.toString, archive.main.textEncoding.getOrElse("utf-8"))
      } else archive.main.data
    out += outName -> mainBytes

    // subresources (plist order)
    for (res <- archive.subresources) {
      val localPath = ctx.getLocalPath(res.url)
      val bytes: Array[Byte] =
        if (res.mimeType == "text/css") {
          val sb = new StringBuilder(res.data.length)
          processCssResource(ctx, res, sb, "", 0)
          encodeText(sb.toString, res.textEncoding.getOrElse("utf-8"))
        } else if (Mime.isHtml(res.mimeType)) {
          val sb = new StringBuilder(res.data.length)
          processHtmlResource(ctx, res, sb, "", 0)
          encodeText(sb.toString, res.textEncoding.getOrElse("utf-8"))
        } else res.data
      out += (subresourceDirBase + "/" + localPath) -> bytes
    }

    // subframe archives, recursive: extracted under the parent's _files dir
    for (sf <- archive.subframes) {
      val sfLocal = ctx.getLocalPath(sf.main.url)
      for ((rel, bytes) <- extractFiles(sf, sfLocal))
        out += (subresourceDirBase + "/" + rel) -> bytes
    }
    out.result()
  }
}
