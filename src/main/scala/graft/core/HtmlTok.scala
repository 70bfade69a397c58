package graft.core

import java.util.regex.Pattern

/** Event-based HTML tokenizer replicating CPython 3.11 `html.parser
  * .HTMLParser` observable behavior with `convert_charrefs=False`.
  *
  * The reference's HTMLRewriter subclasses that parser
  * (/root/reference/webarchive/util.py:22-221) and byte-identical rewriting
  * requires matching its tokenization exactly: tolerant start-tag regexes,
  * attr-value entity unescaping, CDATA content mode for script/style, bogus
  * comments, marked sections (which raise on unknown keywords — surfaced
  * here as [[HtmlTok.ParseFallback]] so callers can reproduce the
  * reference's raw-passthrough fallback), and single-feed/no-close
  * semantics (unterminated trailing constructs are silently dropped).
  */
object HtmlTok {

  /** Mirrors CPython AssertionError paths inside the parser: the reference
    * catches them in process_html_resource and falls back to raw text. */
  final class ParseFallback(msg: String) extends RuntimeException(msg)

  trait Handler {
    def starttag(tag: String, attrs: List[(String, String)]): Unit // value null if valueless
    def startendtag(tag: String, attrs: List[(String, String)]): Unit
    def endtag(tag: String): Unit
    def data(d: String): Unit
    def entityref(name: String): Unit
    def charref(name: String): Unit
    def comment(d: String): Unit
    def decl(d: String): Unit
    def pi(d: String): Unit = ()
    def unknownDecl(d: String): Unit = ()
  }

  // Python re \s (unicode) as an explicit character class body
  private[core] final val PS = "\\t\\n\\x0B\\f\\r\\x1C\\x1D\\x1E\\x1F \\x85\\xA0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000"

  def pyIsSpace(c: Char): Boolean = {
    val i = c.toInt
    i == 0x09 || i == 0x0A || i == 0x0B || i == 0x0C || i == 0x0D ||
    (i >= 0x1C && i <= 0x1F) || i == 0x20 || i == 0x85 || i == 0xA0 ||
    i == 0x1680 || (i >= 0x2000 && i <= 0x200A) || i == 0x2028 ||
    i == 0x2029 || i == 0x202F || i == 0x205F || i == 0x3000
  }

  def pyStrip(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && pyIsSpace(s.charAt(a))) a += 1
    while (b > a && pyIsSpace(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  private[core] val entityref = Pattern.compile("&([a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]")
  private[core] val charrefP = Pattern.compile("&#(?:[0-9]+|[xX][0-9a-fA-F]+)[^0-9a-fA-F]")
  private val incomplete = Pattern.compile("&[a-zA-Z#]")
  private val starttagopen = Pattern.compile("<[a-zA-Z]")
  private val markedSectionClose = Pattern.compile(s"][$PS]*][$PS]*>")
  private val msMarkedSectionClose = Pattern.compile(s"][$PS]*>")

  final val CDATA_CONTENT_ELEMENTS = Set("script", "style")

  /** Feed the entire document once (the reference never calls close()):
    * any construct left incomplete at end-of-input is dropped. */
  def tokenize(rawdata: String, h: Handler): Unit = {
    val n = rawdata.length
    var i = 0
    var cdataElem: String = null

    def setCdata(elem: String): Unit = cdataElem = elem.toLowerCase
    def clearCdata(): Unit = cdataElem = null

    def matchAt(p: Pattern, pos: Int): java.util.regex.Matcher = {
      val m = p.matcher(rawdata)
      m.region(pos, n)
      // region anchors ^ but lookbehind must see before region:
      m.useTransparentBounds(true)
      m.useAnchoringBounds(false)
      if (m.lookingAt()) m else null
    }
    def searchFrom(p: Pattern, pos: Int): java.util.regex.Matcher = {
      val m = p.matcher(rawdata)
      m.region(pos, n)
      m.useTransparentBounds(true)
      m.useAnchoringBounds(false)
      if (m.find()) m else null
    }

    def parseBogusComment(at: Int): Int = {
      val pos = rawdata.indexOf('>', at + 2)
      if (pos == -1) return -1
      h.comment(rawdata.substring(at + 2, pos))
      pos + 1
    }

    def scanName(at: Int): (String, Int) = {
      if (at == n) return (null, -1)
      val end = HtmlScan.declName(rawdata, at)
      if (end >= 0) {
        val name = pyStrip(rawdata.substring(at, end))
        if (end == n) (null, -1)
        else (name.toLowerCase, end)
      } else throw new ParseFallback("expected name token")
    }

    def parseMarkedSection(at: Int): Int = {
      val (sectName, j) = scanName(at + 3)
      if (j < 0) return j
      val m =
        if (Set("temp", "cdata", "ignore", "include", "rcdata").contains(sectName))
          searchFrom(markedSectionClose, at + 3)
        else if (Set("if", "else", "endif").contains(sectName))
          searchFrom(msMarkedSectionClose, at + 3)
        else throw new ParseFallback(s"unknown status keyword in marked section")
      if (m == null) return -1
      h.unknownDecl(rawdata.substring(at + 3, m.start()))
      m.end()
    }

    def parseComment(at: Int): Int = {
      val m = HtmlScan.commentClose(rawdata, at + 4)
      if (m == null) return -1
      h.comment(rawdata.substring(at + 4, m(0)))
      m(1)
    }

    def parseHtmlDeclaration(at: Int): Int = {
      if (rawdata.regionMatches(at, "<!--", 0, 4)) parseComment(at)
      else if (rawdata.regionMatches(at, "<![", 0, 3)) parseMarkedSection(at)
      else if (rawdata.regionMatches(true, at, "<!doctype", 0, 9)) {
        val gtpos = rawdata.indexOf('>', at + 9)
        if (gtpos == -1) -1
        else { h.decl(rawdata.substring(at + 2, gtpos)); gtpos + 1 }
      } else parseBogusComment(at)
    }

    def parsePi(at: Int): Int = {
      val j = rawdata.indexOf('>', at + 2)
      if (j == -1) return -1
      h.pi(rawdata.substring(at + 2, j))
      j + 1
    }

    def checkForWholeStartTag(at: Int): Int = {
      val j = HtmlScan.startTagEnd(rawdata, at)
      val next = if (j < n) rawdata.charAt(j) else '\u0000'
      if (j >= n) return -1 // end of input
      if (next == '>') return j + 1
      if (next == '/') {
        if (rawdata.regionMatches(j, "/>", 0, 2)) return j + 2
        // lone '/' not followed by '>': CPython treats as buffer boundary
        // (incomplete); with single-feed semantics the rest is dropped
        return -1
      }
      if ((next >= 'a' && next <= 'z') || (next >= 'A' && next <= 'Z') || next == '=')
        return -1
      if (j > at) j else at + 1
    }

    def parseStarttag(at: Int): Int = {
      val endpos = checkForWholeStartTag(at)
      if (endpos < 0) return endpos
      var attrs = List.newBuilder[(String, String)]
      val tm = HtmlScan.tagFind(rawdata, at + 1)
      if (tm == null) throw new ParseFallback("parse_starttag no tag")
      var k = tm(1)
      val tag = rawdata.substring(at + 1, tm(0)).toLowerCase
      var broke = false
      while (!broke && k < endpos) {
        val m = HtmlScan.attrFind(rawdata, k)
        if (m == null) broke = true
        else {
          var attrvalue = m.rawValue
          if (attrvalue != null && attrvalue.length >= 2 &&
              ((attrvalue.charAt(0) == '\'' && attrvalue.charAt(attrvalue.length - 1) == '\'') ||
               (attrvalue.charAt(0) == '"' && attrvalue.charAt(attrvalue.length - 1) == '"')))
            attrvalue = attrvalue.substring(1, attrvalue.length - 1)
          if (attrvalue != null && attrvalue.nonEmpty)
            attrvalue = PyHtml.unescape(attrvalue)
          attrs += ((m.name.toLowerCase, attrvalue))
          k = m.end
        }
      }
      val endStr = pyStrip(rawdata.substring(math.min(k, endpos), endpos))
      if (endStr != ">" && endStr != "/>") {
        h.data(rawdata.substring(at, endpos))
        return endpos
      }
      if (endStr.endsWith("/>")) h.startendtag(tag, attrs.result())
      else {
        h.starttag(tag, attrs.result())
        if (CDATA_CONTENT_ELEMENTS.contains(tag)) setCdata(tag)
      }
      endpos
    }

    def parseEndtag(at: Int): Int = {
      val gt = rawdata.indexOf('>', at + 1)
      if (gt == -1) return -1
      val gtpos = gt + 1
      val m = HtmlScan.endTagFind(rawdata, at)
      if (m != null) {
        val elem = rawdata.substring(m(0), m(1)).toLowerCase
        if (cdataElem != null && elem != cdataElem) {
          h.data(rawdata.substring(at, m(2)))
          return m(2)
        }
        h.endtag(elem)
        clearCdata()
        return m(2)
      }
      if (cdataElem != null) {
        h.data(rawdata.substring(at, gtpos))
        return gtpos
      }
      val nm = HtmlScan.tagFind(rawdata, at + 2)
      if (nm == null) {
        if (rawdata.regionMatches(at, "</>", 0, 3)) return at + 3
        return parseBogusComment(at)
      }
      val tagname = rawdata.substring(at + 2, nm(0)).toLowerCase
      val g2 = rawdata.indexOf('>', nm(1))
      h.endtag(tagname)
      g2 + 1 // mirrors CPython: -1+1=0 would loop; callers guard via gt found above
    }

    // --- goahead(end=False) --------------------------------------------------
    var continueLoop = true
    while (continueLoop && i < n) {
      var j = 0
      if (cdataElem != null) {
        val m = HtmlScan.cdataClose(rawdata, i, cdataElem)
        if (m == null) { continueLoop = false; j = -1 }
        else j = m(0)
      } else {
        // interesting_normal = [&<]
        var p = i
        var found = -1
        while (found < 0 && p < n) {
          val c = rawdata.charAt(p)
          if (c == '&' || c == '<') found = p else p += 1
        }
        j = if (found >= 0) found else n
      }
      if (continueLoop) {
        if (i < j) h.data(rawdata.substring(i, j))
        i = j
        if (i == n) continueLoop = false
        else if (rawdata.charAt(i) == '<') {
          var k = 0
          val m0 = matchAt(starttagopen, i)
          if (m0 != null) k = parseStarttag(i)
          else if (rawdata.regionMatches(i, "</", 0, 2)) k = parseEndtag(i)
          else if (rawdata.regionMatches(i, "<!--", 0, 4)) k = parseComment(i)
          else if (rawdata.regionMatches(i, "<?", 0, 2)) k = parsePi(i)
          else if (rawdata.regionMatches(i, "<!", 0, 2)) k = parseHtmlDeclaration(i)
          else if (i + 1 < n) { h.data("<"); k = i + 1 }
          else { continueLoop = false; k = i }
          if (continueLoop) {
            if (k < 0) continueLoop = false // incomplete; end=False -> drop rest
            else i = k
          }
        } else if (rawdata.regionMatches(i, "&#", 0, 2)) {
          val m = matchAt(charrefP, i)
          if (m != null) {
            val g = m.group()
            h.charref(g.substring(2, g.length - 1))
            var k = m.end()
            if (rawdata.charAt(k - 1) != ';') k -= 1
            i = k
          } else {
            if (rawdata.indexOf(';', i) >= 0) { h.data(rawdata.substring(i, i + 2)); i += 2 }
            continueLoop = false
          }
        } else { // '&'
          val m = matchAt(entityref, i)
          if (m != null) {
            h.entityref(m.group(1))
            var k = m.end()
            if (rawdata.charAt(k - 1) != ';') k -= 1
            i = k
          } else if (matchAt(incomplete, i) != null) {
            continueLoop = false // incomplete; never resumed
          } else if (i + 1 < n) {
            h.data("&")
            i += 1
          } else continueLoop = false
        }
      }
    }
  }
}
