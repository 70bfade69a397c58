package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.util.regex.Pattern

/** Differential test: the hand-rolled scanners in [[HtmlScan]] must be
  * observably identical to the CPython-equivalent regexes they replace,
  * on deterministic random tag soup (100k samples per scanner). */
class HtmlScanDiffSpec extends AnyFunSuite {

  // the CPython html.parser regexes the scanners replace (Python \s spelled
  // out as HtmlTok.PS)
  private val PS = HtmlTok.PS
  private val tagfindTolerant = Pattern.compile(s"([a-zA-Z][^\\t\\n\\r\\f />\\x00]*)(?:[$PS]|/(?!>))*")
  private val attrfindTolerant = Pattern.compile(
    s"((?<=['\"$PS/])[^$PS/>][^$PS/=>]*)([$PS]*=+[$PS]*" +
    s"('[^']*'|\"[^\"]*\"|(?!['\"])[^>$PS]*))?(?:[$PS]|/(?!>))*")
  private val locatestarttagendTolerant = Pattern.compile(
    s"<[a-zA-Z][^\\t\\n\\r\\f />\\x00]*" +
    s"(?:[$PS/]*" +
    s"(?:(?<=['\"$PS/])[^$PS/>][^$PS/=>]*" +
    s"(?:[$PS]*=+[$PS]*" +
    s"(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>$PS]*)" +
    s"[$PS]*" +
    s")?(?:[$PS]|/(?!>))*" +
    s")*" +
    s")?" +
    s"[$PS]*")
  private val endtagfind = Pattern.compile(s"</[$PS]*([a-zA-Z][-.a-zA-Z0-9:_]*)[$PS]*>")
  private val commentclose = Pattern.compile(s"--[$PS]*>")

  private val alphabet: Array[String] = Array(
    "a", "B", "z", "0", "9", " ", "\t", "\n", "\r", "\f", "\u000b", "\u00a0",
    "\u2003", "<", ">", "/", "=", "==", "'", "\"", "&", ";", "#", "-", ".",
    ":", "_", "%", "!", "?", "x", "href", "src", " = ", "'v'", "\"v\"",
    "'unclosed", "\"unclosed", "/>", "->", "--", "]]>", "]>", "\u0000")

  private def samples(seedBase: Long, count: Int, maxLen: Int): Iterator[String] = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    (0 until count).iterator.map { i =>
      val len = 1 + (splitmix(seedBase ^ i).toInt & (maxLen - 1)).abs
      val sb = new StringBuilder
      var k = 0
      while (k < len) {
        val r = splitmix(seedBase ^ i ^ (k * 7919L))
        sb.append(alphabet(((r % alphabet.length) + alphabet.length).toInt % alphabet.length))
        k += 1
      }
      sb.toString
    }
  }

  private def regexEnd(p: Pattern, s: String, at: Int): Int = {
    val m = p.matcher(s)
    m.region(at, s.length)
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    if (m.lookingAt()) m.end() else -1
  }

  test("startTagEnd == locatestarttagend_tolerant") {
    var checked = 0
    for (body <- samples(1L, 60000, 32)) {
      val s = "<a" + body
      val expected = regexEnd(locatestarttagendTolerant, s, 0)
      val got = HtmlScan.startTagEnd(s, 0)
      assert(expected >= 0, s"regex must always match: ${s.take(40)}")
      assert(got == expected, s"startTagEnd mismatch on ${render(s)}: got $got expected $expected")
      checked += 1
    }
    assert(checked == 60000)
  }

  test("attrFind == attrfind_tolerant (match region, name, rawValue)") {
    for (body <- samples(2L, 60000, 24)) {
      val s = "<a " + body
      val at = 3
      val m = attrfindTolerant.matcher(s)
      m.region(at, s.length)
      m.useTransparentBounds(true)
      m.useAnchoringBounds(false)
      val expected = if (m.lookingAt()) (m.group(1), if (m.group(2) == null) null else m.group(3), m.end()) else null
      val got = HtmlScan.attrFind(s, at)
      if (expected == null) assert(got == null, s"attrFind should fail on ${render(s)}, got $got")
      else {
        assert(got != null, s"attrFind should match on ${render(s)}: expected $expected")
        assert((got.name, got.rawValue, got.end) == expected,
          s"attrFind mismatch on ${render(s)}: got (${got.name},${got.rawValue},${got.end}) expected $expected")
      }
    }
  }

  test("tagFind == tagfind_tolerant") {
    for (body <- samples(3L, 40000, 16)) {
      val s = body
      val m = tagfindTolerant.matcher(s)
      m.useAnchoringBounds(false)
      m.region(0, s.length)
      val expected = if (m.lookingAt()) (m.group(1), m.end()) else null
      val got = HtmlScan.tagFind(s, 0)
      if (expected == null) assert(got == null, s"tagFind should fail on ${render(s)}")
      else {
        assert(got != null && (s.substring(0, got(0)), got(1)) == expected,
          s"tagFind mismatch on ${render(s)}")
      }
    }
  }

  test("endTagFind == endtagfind") {
    for (body <- samples(4L, 40000, 16)) {
      val s = "</" + body
      val m = endtagfind.matcher(s)
      m.useAnchoringBounds(false)
      m.region(0, s.length)
      val expected = if (m.lookingAt()) (m.group(1), m.end()) else null
      val got = HtmlScan.endTagFind(s, 0)
      if (expected == null) assert(got == null, s"endTagFind should fail on ${render(s)}, got ${if (got == null) "null" else got.mkString(",")}")
      else {
        assert(got != null && (s.substring(got(0), got(1)), got(2)) == expected,
          s"endTagFind mismatch on ${render(s)}")
      }
    }
  }

  test("commentClose == commentclose search") {
    for (body <- samples(5L, 40000, 24)) {
      val m = commentclose.matcher(body)
      val expected = if (m.find()) (m.start(), m.end()) else null
      val got = HtmlScan.commentClose(body, 0)
      if (expected == null) assert(got == null, s"commentClose should fail on ${render(body)}")
      else assert(got != null && (got(0), got(1)) == expected, s"commentClose mismatch on ${render(body)}")
    }
  }

  test("cdataClose == interesting-cdata search") {
    val p = Pattern.compile("</\\s*script\\s*>", Pattern.CASE_INSENSITIVE)
    val alphabet2 = Array("</script>", "</SCRIPT >", "</ script>", "</scripty>", "x", "<", "/", ">", " ", "script")
    def gen(i: Int): String = {
      val sb = new StringBuilder
      var x = i.toLong * 2654435761L
      for (_ <- 0 until 6) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(alphabet2((((x >>> 33) % alphabet2.length) + alphabet2.length).toInt % alphabet2.length))
      }
      sb.toString
    }
    for (i <- 0 until 30000) {
      val s = gen(i)
      val m = p.matcher(s)
      val expected = if (m.find()) (m.start(), m.end()) else null
      val got = HtmlScan.cdataClose(s, 0, "script")
      if (expected == null) assert(got == null, s"cdataClose should fail on ${render(s)}")
      else assert(got != null && (got(0), got(1)) == expected, s"cdataClose mismatch on ${render(s)}")
    }
  }

  private def render(s: String): String =
    s.map(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString).mkString
}
