package graft.core

import graft.model._
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.ByteBuffer

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

  // --- charset handling (python codec name -> java) --------------------------

  private val charsetAliases = Map(
    "utf-8" -> "UTF-8", "utf8" -> "UTF-8", "u8" -> "UTF-8",
    "latin-1" -> "ISO-8859-1", "latin1" -> "ISO-8859-1", "latin" -> "ISO-8859-1",
    "iso-8859-1" -> "ISO-8859-1", "iso8859-1" -> "ISO-8859-1", "8859" -> "ISO-8859-1",
    "cp1252" -> "windows-1252", "windows-1252" -> "windows-1252",
    "ascii" -> "US-ASCII", "us-ascii" -> "US-ASCII",
    // the utf-16/utf-32 FAMILY names (utf-16, utf16, u16, ...) never reach
    // this table — they take the BOM/native-LE CPython-parity paths — but
    // the explicit-endian variants decode identically in both runtimes and
    // map straight to the JDK charsets. CPython accepts several spellings
    // Java's Charset.forName does not ("utf-16-le", "utf_16_le").
    "utf-16" -> "UTF-16", "utf-16le" -> "UTF-16LE", "utf-16be" -> "UTF-16BE",
    "utf-16-le" -> "UTF-16LE", "utf_16_le" -> "UTF-16LE", "utf16le" -> "UTF-16LE",
    "utf-16-be" -> "UTF-16BE", "utf_16_be" -> "UTF-16BE", "utf16be" -> "UTF-16BE",
    "utf-32le" -> "UTF-32LE", "utf-32-le" -> "UTF-32LE", "utf_32_le" -> "UTF-32LE",
    "utf-32be" -> "UTF-32BE", "utf-32-be" -> "UTF-32BE", "utf_32_be" -> "UTF-32BE",
    // CJK names also appear in PyCharsets.Supported, which intercepts
    // decode/encode BEFORE charsetFor; gb2312 (JDK-exact) stays here
    "shift_jis" -> "Shift_JIS", "shift-jis" -> "Shift_JIS", "sjis" -> "Shift_JIS",
    "euc-jp" -> "EUC-JP", "euc-kr" -> "EUC-KR", "gb2312" -> "GB2312",
    "gbk" -> "GBK", "big5" -> "Big5", "koi8-r" -> "KOI8-R")

  def charsetFor(name: String): Charset =
    Charset.forName(charsetAliases.getOrElse(name.toLowerCase, name))

  /** Python cp1252 is STRICT: bytes 0x81 0x8D 0x8F 0x90 0x9D are undefined
    * and raise; Java's windows-1252 maps them to C1 controls. Match Python
    * by rejecting those code points around decode/encode. */
  private def checkCp1252Strict(s: CharSequence, enc: String): Unit = {
    if (enc == "windows-1252" || enc == "cp1252") {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i).toInt
        if (c == 0x81 || c == 0x8D || c == 0x8F || c == 0x90 || c == 0x9D)
          throw new java.nio.charset.UnmappableCharacterException(1)
        i += 1
      }
    }
  }

  private def isUtf8Name(enc: String): Boolean = {
    val e = enc.toLowerCase
    e == "utf-8" || e == "utf8" || e == "u8"
  }

  /** CPython's 'utf-16' codec names (the -le/-be variants are NOT in this
    * family — they never consume a BOM in either runtime and Java's
    * UTF-16LE/BE charsets already match). */
  private def isUtf16Name(enc: String): Boolean = {
    val e = enc.toLowerCase
    e == "utf-16" || e == "utf16" || e == "u16" || e == "utf_16"
  }

  /** CPython 'utf-16' DECODE parity: a BOM is consumed and selects the
    * order; WITHOUT a BOM CPython falls back to the NATIVE byte order —
    * little-endian on every platform the reference goldens are generated
    * on — while Java's UTF-16 charset assumes BIG-endian. Observable
    * divergence (r5 `utf16_nobom_*` fixtures: the reference decodes the
    * LE file to the real text and the BE file to CJK mojibake; Java's
    * default did exactly the opposite). Odd trailing bytes are malformed
    * in both runtimes (REPORT -> error path). */
  private def decodeUtf16Py(d: Array[Byte]): String = {
    import java.nio.charset.StandardCharsets
    val (cs, off) =
      if (d.length >= 2 && d(0) == 0xFE.toByte && d(1) == 0xFF.toByte)
        (StandardCharsets.UTF_16BE, 2)
      else if (d.length >= 2 && d(0) == 0xFF.toByte && d(1) == 0xFE.toByte)
        (StandardCharsets.UTF_16LE, 2)
      else (StandardCharsets.UTF_16LE, 0)
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    dec.decode(ByteBuffer.wrap(d, off, d.length - off)).toString
  }

  /** CPython's 'utf-32' codec names (the -le/-be variants map straight to
    * Java's UTF-32LE/BE, which already agree). */
  private def isUtf32Name(enc: String): Boolean = {
    val e = enc.toLowerCase
    e == "utf-32" || e == "utf32" || e == "u32" || e == "utf_32"
  }

  /** Same BOM/native-LE semantics as [[decodeUtf16Py]], one size up —
    * Java's UTF-32 charset likewise assumes BE without a BOM. */
  private def decodeUtf32Py(d: Array[Byte]): String = {
    val (le, off) =
      if (d.length >= 4 && d(0) == 0 && d(1) == 0 &&
          d(2) == 0xFE.toByte && d(3) == 0xFF.toByte) (false, 4)
      else if (d.length >= 4 && d(0) == 0xFF.toByte && d(1) == 0xFE.toByte &&
               d(2) == 0 && d(3) == 0) (true, 4)
      else (true, 0)
    decodeUtf32Fixed(d, off, le)
  }

  /** CPython's EXPLICIT-endian 'utf-32-le'/'utf-32-be' codecs never
    * consume a BOM (a leading U+FEFF stays in the text) — Java's
    * UTF-32LE/BE decoders DO strip one, so those names are hand-decoded
    * too (corpus-caught divergence). */
  private def isUtf32LeName(enc: String): Boolean = {
    val e = enc.toLowerCase
    e == "utf-32-le" || e == "utf_32_le" || e == "utf-32le" || e == "utf32le"
  }
  private def isUtf32BeName(enc: String): Boolean = {
    val e = enc.toLowerCase
    e == "utf-32-be" || e == "utf_32_be" || e == "utf-32be" || e == "utf32be"
  }

  /** UTF-32 strict decode, CPython semantics: length must be a multiple
    * of 4; code points above U+10FFFF or in the surrogate range raise. */
  private def decodeUtf32Fixed(d: Array[Byte], off: Int, le: Boolean): String = {
    val n = d.length - off
    if (n % 4 != 0)
      throw new java.nio.charset.MalformedInputException(n % 4)
    val sb = new java.lang.StringBuilder(n / 2)
    var i = off
    while (i < d.length) {
      val cp =
        if (le) (d(i) & 0xFF) | ((d(i + 1) & 0xFF) << 8) |
                ((d(i + 2) & 0xFF) << 16) | ((d(i + 3) & 0xFF) << 24)
        else ((d(i) & 0xFF) << 24) | ((d(i + 1) & 0xFF) << 16) |
             ((d(i + 2) & 0xFF) << 8) | (d(i + 3) & 0xFF)
      if (cp < 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
        throw new java.nio.charset.MalformedInputException(4)
      sb.appendCodePoint(cp)
      i += 4
    }
    sb.toString
  }

  /** RFC 3629 UTF-8 well-formedness: no truncated sequences, no stray
    * continuations, no overlongs, no surrogates, max U+10FFFF — exactly
    * the byte strings CPython's strict utf-8 codec (and Java's REPORT
    * decoder) accept. For a well-formed input the intrinsified String
    * constructor produces the identical char sequence, so the strict
    * decoder (profiled hot: decodeArrayLoop ~9% of to_html) is skippable.
    * Differential-tested against the REPORT decoder in PropertySpec. */
  private[core] def isValidUtf8(d: Array[Byte]): Boolean = {
    var i = 0
    val n = d.length
    while (i < n) {
      val b = d(i)
      if (b >= 0) i += 1
      else {
        val b0 = b & 0xFF
        if (b0 < 0xC2) return false // stray continuation or overlong C0/C1
        else if (b0 < 0xE0) { // 2-byte
          if (i + 1 >= n || (d(i + 1) & 0xC0) != 0x80) return false
          i += 2
        } else if (b0 < 0xF0) { // 3-byte
          if (i + 2 >= n) return false
          val b1 = d(i + 1) & 0xFF
          if ((b1 & 0xC0) != 0x80 || (d(i + 2) & 0xC0) != 0x80) return false
          if (b0 == 0xE0 && b1 < 0xA0) return false // overlong
          if (b0 == 0xED && b1 >= 0xA0) return false // surrogate range
          i += 3
        } else if (b0 < 0xF5) { // 4-byte
          if (i + 3 >= n) return false
          val b1 = d(i + 1) & 0xFF
          if ((b1 & 0xC0) != 0x80 || (d(i + 2) & 0xC0) != 0x80 ||
              (d(i + 3) & 0xC0) != 0x80) return false
          if (b0 == 0xF0 && b1 < 0x90) return false // overlong
          if (b0 == 0xF4 && b1 >= 0x90) return false // > U+10FFFF
          i += 4
        } else return false
      }
    }
    true
  }

  /** Python str(resource): strict decode with the resource encoding;
    * TypeError for non-text resources. */
  def resourceText(r: WResource): String = {
    if (!Mime.isText(r.mimeType))
      throw new IllegalArgumentException("cannot convert non-text resource to str")
    val encName = r.textEncoding.getOrElse("utf-8")
    // fast path: well-formed UTF-8 decodes identically through the
    // intrinsified constructor (see isValidUtf8); malformed input falls
    // through to the strict REPORT decoder for the exact error behavior
    if (isUtf8Name(encName) && isValidUtf8(r.data))
      return new String(r.data, java.nio.charset.StandardCharsets.UTF_8)
    if (isUtf16Name(encName)) return decodeUtf16Py(r.data)
    if (isUtf32Name(encName)) return decodeUtf32Py(r.data)
    if (isUtf32LeName(encName)) return decodeUtf32Fixed(r.data, 0, le = true)
    if (isUtf32BeName(encName)) return decodeUtf32Fixed(r.data, 0, le = false)
    // CJK charsets whose JDK tables diverge from CPython's decode via
    // python-enumerated tables (PyCharsets scaladoc)
    PyCharsets.tableFor(encName) match {
      case Some(t) => return PyCharsets.decode(t, r.data)
      case None    => ()
    }
    val cs = charsetFor(encName)
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val out = dec.decode(ByteBuffer.wrap(r.data)).toString
    checkCp1252Strict(out, encName.toLowerCase)
    out
  }

  def encodeText(s: String, encoding: String): Array[Byte] = {
    checkCp1252Strict(s, encoding.toLowerCase)
    // fast path: UTF-8 encoding of a surrogate-free string cannot fail, and
    // String.getBytes(UTF_8) is intrinsified; only unpaired surrogates make
    // getBytes ('?' replacement) diverge from the REPORT encoder (CPython
    // raises on them — the strict path below keeps that behavior)
    if (isUtf8Name(encoding)) {
      var i = 0
      val n = s.length
      while (i < n && (s.charAt(i) & 0xF800) != 0xD800) i += 1
      if (i == n) return s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    // CPython 'utf-16' ENCODE parity: BOM (FF FE) + little-endian body;
    // Java's UTF-16 charset writes a BE BOM + big-endian. Lone surrogates
    // raise in both (strict REPORT below).
    if (isUtf16Name(encoding)) {
      val enc16 = java.nio.charset.StandardCharsets.UTF_16LE.newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val bb = enc16.encode(java.nio.CharBuffer.wrap(s))
      val out = new Array[Byte](2 + bb.remaining())
      out(0) = 0xFF.toByte
      out(1) = 0xFE.toByte
      bb.get(out, 2, out.length - 2)
      return out
    }
    if (isUtf32Name(encoding)) {
      val enc32 = Charset.forName("UTF-32LE").newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val bb = enc32.encode(java.nio.CharBuffer.wrap(s))
      val out = new Array[Byte](4 + bb.remaining())
      out(0) = 0xFF.toByte; out(1) = 0xFE.toByte; out(2) = 0; out(3) = 0
      bb.get(out, 4, out.length - 4)
      return out
    }
    PyCharsets.tableFor(encoding) match {
      case Some(t) => return PyCharsets.encode(t, s)
      case None    => ()
    }
    val cs = charsetFor(encoding)
    val enc = cs.newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val bb = enc.encode(java.nio.CharBuffer.wrap(s))
    val out = new Array[Byte](bb.remaining())
    bb.get(out)
    out
  }

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
    * reference's observable behavior: NUL x chars-already-written + raw text. */
  def processHtmlResource(ctx: ArchiveCtx, res: WResource, output: StringBuilder,
                          subresourceDir: String, depth: Int): Unit = {
    if (!Mime.isHtml(res.mimeType))
      throw new IllegalArgumentException("res must be text/html or application/xhtml+xml")
    val start = output.length
    val text = resourceText(res) // decode errors propagate (same as reference)
    try {
      val h = new HtmlRewriteHandler(ctx, res, output, subresourceDir, depth)
      HtmlTok.tokenize(text, h)
    } catch {
      case _: Throwable =>
        // reference bug replicated: output.truncate(0) without seek leaves
        // the stream position -> NUL padding of the already-written length
        val written = output.length
        output.setLength(start)
        var i = start
        while (i < written) { output.append('\u0000'); i += 1 }
        output.append(text)
    }
  }

  /** Event sink that observes the SAME tokenizer pass used for rewriting:
    * collects visible text (script/style skipped, charrefs resolved) and
    * outlinks (a/area href, frame/iframe src) without a second parse. */
  final class PageObserver(baseUrl: String) {
    val text = new StringBuilder
    private var skip = 0
    private val links = scala.collection.mutable.LinkedHashSet.empty[String]
    def onStart(tag: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      if (!selfClosing && (tag == "script" || tag == "style")) skip += 1
      for ((a, v) <- attrs if v != null && v.nonEmpty) {
        if (((tag == "a" || tag == "area") && a == "href") ||
            ((tag == "frame" || tag == "iframe") && a == "src")) {
          val abs = try PyUrl.urljoin(baseUrl, v) catch { case _: Exception => null }
          if (abs != null && (abs.startsWith("http://") || abs.startsWith("https://")))
            links += abs
        }
      }
    }
    def onEnd(tag: String): Unit =
      if ((tag == "script" || tag == "style") && skip > 0) skip -= 1
    def onData(d: String): Unit = if (skip == 0) text.append(d)
    def onEntity(name: String): Unit = if (skip == 0) text.append(PyHtml.unescape(s"&$name;"))
    def onCharref(name: String): Unit = if (skip == 0) text.append(PyHtml.unescape(s"&#$name;"))
    def outlinks: Vector[String] = links.toVector
  }

  /** Single-pass extraction: rewritten HTML + visible text + outlinks from
    * ONE tokenizer run (the separate expressions parse the page 3-4x). */
  def extractAll(archive: WArchive): (String, String, Vector[String]) = {
    val ctx = new ArchiveCtx(archive)
    val main = archive.main
    if (!Mime.isHtml(main.mimeType))
      return (new String(main.data, charsetFor(main.textEncoding.getOrElse("utf-8"))), "", Vector.empty)
    val out = new StringBuilder(main.data.length) // rewrite output >= input
    val obs = new PageObserver(main.url)
    val text = resourceText(main)
    try {
      val inner = new HtmlRewriteHandler(ctx, main, out, null, 0)
      val h = new HtmlTok.Handler {
        override def starttag(tag: String, attrs: List[(String, String)]): Unit = {
          obs.onStart(tag, attrs, selfClosing = false); inner.starttag(tag, attrs)
        }
        override def startendtag(tag: String, attrs: List[(String, String)]): Unit = {
          obs.onStart(tag, attrs, selfClosing = true); inner.startendtag(tag, attrs)
        }
        override def endtag(tag: String): Unit = { obs.onEnd(tag); inner.endtag(tag) }
        override def data(d: String): Unit = { obs.onData(d); inner.data(d) }
        override def entityref(name: String): Unit = { obs.onEntity(name); inner.entityref(name) }
        override def charref(name: String): Unit = { obs.onCharref(name); inner.charref(name) }
        override def comment(d: String): Unit = inner.comment(d)
        override def decl(d: String): Unit = inner.decl(d)
      }
      HtmlTok.tokenize(text, h)
      (out.toString, obs.text.toString, obs.outlinks)
    } catch {
      case _: Throwable =>
        // reference fallback parity (NUL padding + raw text); text/links
        // degrade to the raw-source tokenization of the fallback output
        val written = out.length
        out.setLength(0)
        var i = 0
        while (i < written) { out.append('\u0000'); i += 1 }
        out.append(text)
        (out.toString, "", Vector.empty)
    }
  }

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
