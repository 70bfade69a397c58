package graft.core

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{Charset, CodingErrorAction, MalformedInputException,
  StandardCharsets, UnmappableCharacterException}
import java.util.zip.GZIPInputStream

/** CPython-parity codecs, and the one place that maps an encoding name to
  * a codec. The reference decodes a resource with
  * `data.decode(text_encoding)` (webresource.py:91-105), so a name means
  * what CPython's codec registry makes of it: [[codec]] applies CPython's
  * name normalization, then one alias table maps every CPython spelling of
  * the verified codecs. Names outside that surface go to
  * `Charset.forName` unchanged.
  *
  * Where the JDK coders diverge from CPython's, the codec here does not
  * use them:
  *  - utf-16/utf-32 take a BOM and otherwise read little-endian (the
  *    native order the reference goldens are generated on); the JDK reads
  *    big-endian;
  *  - explicit-endian utf-32 keeps a leading U+FEFF; the JDK strips it;
  *  - cp1252 rejects the five bytes CPython leaves undefined;
  *  - Shift_JIS, EUC-JP, EUC-KR, GBK and Big5 decode and encode through
  *    tables ENUMERATED directly from CPython (r5 exhaustive 2-byte
  *    differential: Shift_JIS/EUC-JP map JIS 0x213D to U+2014 where
  *    CPython emits U+2015; Java's GBK accepts 2,149 sequences CPython
  *    rejects and maps 0xA892 to U+2641 vs U+2295; Java's Big5 swaps
  *    several punctuation mappings and rejects 2 sequences CPython
  *    accepts; EUC-KR accepts 2 sequences CPython rejects). The tables
  *    are generated by tools/gen_charset_tables.py into
  *    src/main/resources/charsets/<enc>.tsv.gz and walked with the
  *    codecs' no-lookahead unit structure:
  *     - a byte that strict-decodes alone is a 1-byte unit and never a lead;
  *     - otherwise it is a lead iff some 2-byte sequence starting with it
  *       decodes; a lead followed by an invalid or missing trail is a
  *       strict error (no backtracking) — CPython semantics;
  *     - euc-jp additionally has 0x8F-led 3-byte units (JIS X 0212 via SS3).
  *
  * gb2312 matched the JDK exactly across the exhaustive differential and
  * stays on the JDK coder. The codecs are pinned by a python-generated
  * corpus and the spellings by a CPython `codecs.lookup` table
  * (CharsetParitySpec). */
object PyCharsets {

  /** A codec with CPython's strict error handling: `decode` raises where
    * `bytes.decode(name)` raises, `encode` where `str.encode(name)` does. */
  abstract class PyCodec {
    def decode(d: Array[Byte]): String
    def encode(s: String): Array[Byte]
  }

  /** The codec `bytes.decode(name)` uses in CPython. Throws for a name
    * neither CPython's surface below nor the JDK knows. */
  def codec(name: String): PyCodec = {
    val n = normalizeEncoding(name)
    // CPython's search function retries the alias lookup with '.' -> '_'
    val c = Aliases.getOrElse(n, Aliases.getOrElse(n.replace('.', '_'), null))
    if (c != null) c else new JdkCodec(Charset.forName(name))
  }

  /** CPython `encodings.normalize_encoding` parity, plus the lowercasing
    * the codec registry applies first: keep [a-zA-Z0-9.], collapse every
    * other run to a single '_', lowercase. */
  private def normalizeEncoding(name: String): String = {
    val sb = new java.lang.StringBuilder(name.length)
    var i = 0
    var punct = false
    while (i < name.length) {
      val c = name.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '.') {
        if (punct && sb.length > 0) sb.append('_')
        punct = false
        sb.append(Character.toLowerCase(c))
      } else punct = true
      i += 1
    }
    sb.toString
  }

  private def strictDecode(cs: Charset, d: Array[Byte], off: Int): String =
    cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(ByteBuffer.wrap(d, off, d.length - off)).toString

  /** The strict encoding of `s` after `bom`. */
  private def strictEncode(cs: Charset, s: String, bom: Array[Byte]): Array[Byte] = {
    val bb = cs.newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .encode(CharBuffer.wrap(s))
    val out = new Array[Byte](bom.length + bb.remaining())
    System.arraycopy(bom, 0, out, 0, bom.length)
    bb.get(out, bom.length, out.length - bom.length)
    out
  }

  private val NoBom = new Array[Byte](0)

  private class JdkCodec(cs: Charset) extends PyCodec {
    def decode(d: Array[Byte]): String = strictDecode(cs, d, 0)
    def encode(s: String): Array[Byte] = strictEncode(cs, s, NoBom)
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

  private object Utf8 extends JdkCodec(StandardCharsets.UTF_8) {
    // fast path: well-formed UTF-8 decodes identically through the
    // intrinsified constructor (see isValidUtf8); malformed input falls
    // through to the strict REPORT decoder for the exact error behavior
    override def decode(d: Array[Byte]): String =
      if (isValidUtf8(d)) new String(d, StandardCharsets.UTF_8) else super.decode(d)
    // fast path: UTF-8 encoding of a surrogate-free string cannot fail, and
    // String.getBytes(UTF_8) is intrinsified; only unpaired surrogates make
    // getBytes ('?' replacement) diverge from the REPORT encoder (CPython
    // raises on them — the strict path keeps that behavior)
    override def encode(s: String): Array[Byte] = {
      var i = 0
      val n = s.length
      while (i < n && (s.charAt(i) & 0xF800) != 0xD800) i += 1
      if (i == n) s.getBytes(StandardCharsets.UTF_8) else super.encode(s)
    }
  }

  /** CPython 'utf-16': DECODE consumes a BOM, which selects the order;
    * WITHOUT a BOM CPython falls back to the NATIVE byte order —
    * little-endian on every platform the reference goldens are generated
    * on — while Java's UTF-16 charset assumes BIG-endian. Observable
    * divergence (r5 `utf16_nobom_*` fixtures: the reference decodes the
    * LE file to the real text and the BE file to CJK mojibake; Java's
    * default did exactly the opposite). Odd trailing bytes are malformed
    * in both runtimes (REPORT -> error path). ENCODE writes BOM (FF FE) +
    * little-endian body; Java's UTF-16 charset writes a BE BOM +
    * big-endian. Lone surrogates raise in both. */
  private object Utf16 extends PyCodec {
    def decode(d: Array[Byte]): String =
      if (d.length >= 2 && d(0) == 0xFE.toByte && d(1) == 0xFF.toByte)
        strictDecode(StandardCharsets.UTF_16BE, d, 2)
      else if (d.length >= 2 && d(0) == 0xFF.toByte && d(1) == 0xFE.toByte)
        strictDecode(StandardCharsets.UTF_16LE, d, 2)
      else strictDecode(StandardCharsets.UTF_16LE, d, 0)
    def encode(s: String): Array[Byte] =
      strictEncode(StandardCharsets.UTF_16LE, s, Array(0xFF.toByte, 0xFE.toByte))
  }

  /** UTF-32 strict decode, CPython semantics: length must be a multiple
    * of 4; code points above U+10FFFF or in the surrogate range raise. */
  private def decodeUtf32Fixed(d: Array[Byte], off: Int, le: Boolean): String = {
    val n = d.length - off
    if (n % 4 != 0)
      throw new MalformedInputException(n % 4)
    val sb = new java.lang.StringBuilder(n / 2)
    var i = off
    while (i < d.length) {
      val cp =
        if (le) (d(i) & 0xFF) | ((d(i + 1) & 0xFF) << 8) |
                ((d(i + 2) & 0xFF) << 16) | ((d(i + 3) & 0xFF) << 24)
        else ((d(i) & 0xFF) << 24) | ((d(i + 1) & 0xFF) << 16) |
             ((d(i + 2) & 0xFF) << 8) | (d(i + 3) & 0xFF)
      if (cp < 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
        throw new MalformedInputException(4)
      sb.appendCodePoint(cp)
      i += 4
    }
    sb.toString
  }

  /** CPython 'utf-32': same BOM/native-LE semantics as [[Utf16]], one
    * size up — Java's UTF-32 charset likewise assumes BE without a BOM. */
  private object Utf32 extends PyCodec {
    def decode(d: Array[Byte]): String =
      if (d.length >= 4 && d(0) == 0 && d(1) == 0 &&
          d(2) == 0xFE.toByte && d(3) == 0xFF.toByte) decodeUtf32Fixed(d, 4, le = false)
      else if (d.length >= 4 && d(0) == 0xFF.toByte && d(1) == 0xFE.toByte &&
               d(2) == 0 && d(3) == 0) decodeUtf32Fixed(d, 4, le = true)
      else decodeUtf32Fixed(d, 0, le = true)
    def encode(s: String): Array[Byte] =
      strictEncode(Charset.forName("UTF-32LE"), s, Array(0xFF.toByte, 0xFE.toByte, 0, 0))
  }

  /** CPython's EXPLICIT-endian 'utf-32-le'/'utf-32-be' codecs never
    * consume a BOM (a leading U+FEFF stays in the text) — Java's
    * UTF-32LE/BE decoders DO strip one, so these decode by hand
    * (corpus-caught divergence); neither runtime writes a BOM. */
  private final class Utf32Fixed(le: Boolean)
      extends JdkCodec(Charset.forName(if (le) "UTF-32LE" else "UTF-32BE")) {
    override def decode(d: Array[Byte]): String = decodeUtf32Fixed(d, 0, le)
  }

  /** Python cp1252 is STRICT: bytes 0x81 0x8D 0x8F 0x90 0x9D are undefined
    * and raise; Java's windows-1252 maps them to C1 controls. Match Python
    * by rejecting those code points around decode/encode. */
  private object Cp1252 extends JdkCodec(Charset.forName("windows-1252")) {
    private def strict(s: String): String = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i).toInt
        if (c == 0x81 || c == 0x8D || c == 0x8F || c == 0x90 || c == 0x9D)
          throw new UnmappableCharacterException(1)
        i += 1
      }
      s
    }
    override def decode(d: Array[Byte]): String = strict(super.decode(d))
    override def encode(s: String): Array[Byte] = super.encode(strict(s))
  }

  /** Every CPython spelling of the verified codecs, post-normalization:
    * each codec's module name plus its `encodings.aliases` entries
    * (CPython 3.11). */
  private val Aliases: Map[String, PyCodec] = Seq[(PyCodec, String)](
    Utf8 -> "utf_8 u8 utf utf8 utf8_ucs2 utf8_ucs4 cp65001",
    Utf16 -> "utf_16 u16 utf16",
    Utf32 -> "utf_32 u32 utf32",
    new JdkCodec(StandardCharsets.UTF_16LE) -> "utf_16_le utf_16le unicodelittleunmarked",
    new JdkCodec(StandardCharsets.UTF_16BE) -> "utf_16_be utf_16be unicodebigunmarked",
    new Utf32Fixed(le = true) -> "utf_32_le utf_32le",
    new Utf32Fixed(le = false) -> "utf_32_be utf_32be",
    new JdkCodec(StandardCharsets.ISO_8859_1) ->
      ("latin_1 8859 cp819 csisolatin1 ibm819 iso8859 iso8859_1 iso_8859_1 " +
       "iso_8859_1_1987 iso_ir_100 l1 latin latin1"),
    new JdkCodec(StandardCharsets.US_ASCII) ->
      ("ascii 646 ansi_x3.4_1968 ansi_x3.4_1986 ansi_x3_4_1968 cp367 csascii " +
       "ibm367 iso646_us iso_646.irv_1991 iso_ir_6 us us_ascii"),
    new JdkCodec(Charset.forName("KOI8-R")) -> "koi8_r cskoi8r",
    Cp1252 -> "cp1252 1252 windows_1252",
    new JdkCodec(Charset.forName("GB2312")) ->
      ("gb2312 chinese csiso58gb231280 euc_cn euccn eucgb2312_cn gb2312_1980 " +
       "gb2312_80 iso_ir_58 x_mac_simp_chinese"),
    new TableCodec("shift_jis") -> "shift_jis csshiftjis s_jis shiftjis sjis x_mac_japanese",
    new TableCodec("euc-jp") -> "euc_jp eucjp u_jis ujis",
    new TableCodec("euc-kr") ->
      "euc_kr euckr korean ks_c_5601 ks_c_5601_1987 ks_x_1001 ksc5601 ksx1001 x_mac_korean",
    new TableCodec("gbk") -> "gbk 936 cp936 ms936",
    new TableCodec("big5") -> "big5 big5_tw csbig5 x_mac_trad_chinese"
  ).flatMap { case (c, names) => names.split(' ').map(_ -> c) }.toMap

  private final class Table(
      val singles: Array[String],            // byte -> unit text, null = not a unit
      val doubles: Array[Array[String]],     // lead -> trail -> text, null = not a lead
      val triples: java.util.HashMap[Integer, String], // euc-jp 0x8F: (a<<8|b) -> text
      val comps: java.util.HashMap[java.lang.Long, String], // euc-kr a4d4: 6 trailing bytes -> text
      val enc: java.util.HashMap[String, Array[Byte]]) // single-codepoint text -> bytes

  private def unhex(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  private def load(res: String): Table = {
    val in = getClass.getResourceAsStream(s"/charsets/$res.tsv.gz")
    require(in != null, s"charset table missing: $res (run tools/gen_charset_tables.py)")
    val singles = new Array[String](256)
    val doubles = new Array[Array[String]](256)
    val triples = new java.util.HashMap[Integer, String]()
    val comps = new java.util.HashMap[java.lang.Long, String]()
    val enc = new java.util.HashMap[String, Array[Byte]]()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(new GZIPInputStream(in), "UTF-8"))
    try {
      var line = reader.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val a = line.split(" ", 3)
          if (a(0) == "D") {
            val seq = unhex(a(1))
            val text = new String(unhex(a(2)), "UTF-8")
            seq.length match {
              case 1 => singles(seq(0) & 0xFF) = text
              case 2 =>
                val lead = seq(0) & 0xFF
                if (doubles(lead) == null) doubles(lead) = new Array[String](256)
                doubles(lead)(seq(1) & 0xFF) = text
              case 3 =>
                triples.put(((seq(1) & 0xFF) << 8) | (seq(2) & 0xFF), text)
              case _ => sys.error(s"bad unit length in $res: ${a(1)}")
            }
          } else if (a(0) == "C") {
            // euc-kr composition: the 6 bytes AFTER the a4d4 lead pair
            val seq = unhex(a(1))
            var k = 0L
            var j = 0
            while (j < 6) { k = (k << 8) | (seq(j) & 0xFFL); j += 1 }
            comps.put(k, new String(unhex(a(2)), "UTF-8"))
          } else {
            enc.put(new String(unhex(a(1)), "UTF-8"), unhex(a(2)))
          }
        }
        line = reader.readLine()
      }
    } finally reader.close()
    new Table(singles, doubles, triples, comps, enc)
  }

  /** A table-driven CJK codec; its table loads on first use. */
  private final class TableCodec(res: String) extends PyCodec {
    private lazy val t = load(res)

    /** Strict decode with CPython unit semantics; throws
      * MalformedInputException like the JDK strict path. */
    def decode(d: Array[Byte]): String = {
      val n = d.length
      val sb = new java.lang.StringBuilder(n)
      var i = 0
      while (i < n) {
        val b = d(i) & 0xFF
        val s1 = t.singles(b)
        if (s1 != null) { sb.append(s1); i += 1 }
        else {
          val t2 = t.doubles(b)
          if (t2 != null) {
            if (i + 1 >= n) throw new MalformedInputException(n - i)
            val v = t2(d(i + 1) & 0xFF)
            if (v == null) {
              // euc-kr jamo composition unit: a4d4 leads an 8-byte sequence
              // (a4d4 is deliberately absent from the pair table — alone or
              // with an invalid tail it is a strict error, like CPython)
              if (b == 0xA4 && (d(i + 1) & 0xFF) == 0xD4 && !t.comps.isEmpty) {
                if (i + 7 >= n) throw new MalformedInputException(n - i)
                var k = 0L
                var j = i + 2
                while (j < i + 8) { k = (k << 8) | (d(j) & 0xFFL); j += 1 }
                val cv = t.comps.get(k)
                if (cv == null) throw new MalformedInputException(8)
                sb.append(cv); i += 8
              } else throw new MalformedInputException(2)
            } else { sb.append(v); i += 2 }
          } else if (b == 0x8F && !t.triples.isEmpty) {
            if (i + 2 >= n) throw new MalformedInputException(n - i)
            val v = t.triples.get(((d(i + 1) & 0xFF) << 8) | (d(i + 2) & 0xFF))
            if (v == null) throw new MalformedInputException(3)
            sb.append(v); i += 3
          } else throw new MalformedInputException(1)
        }
      }
      sb.toString
    }

    /** Strict encode (CPython raises on unmappable; so do we). */
    def encode(s: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(s.length * 2)
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val k = Character.charCount(cp)
        val b = t.enc.get(s.substring(i, i + k))
        if (b == null) throw new UnmappableCharacterException(k)
        out.write(b, 0, b.length)
        i += k
      }
      out.toByteArray
    }
  }
}
