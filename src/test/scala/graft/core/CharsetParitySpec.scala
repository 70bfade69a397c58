package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.util.zip.GZIPInputStream

/** CPython codec parity over the whole charset surface the engine accepts
  * (r5). The corpus (golden/charset_cases.tsv.gz) is generated by
  * tools/gen_charset_tables.py gen_cases() from the REFERENCE runtime:
  * per-charset multi-unit valid strings, mutations (truncations, injected
  * bytes), pure random bytes, every known-divergent sequence in context,
  * the utf-16/utf-32 BOM shapes, and the encode side. The engine must
  * agree with CPython's strict codecs row for row: same decoded/encoded
  * value on OK, an error on ERR. This is what pins:
  *  - the table-driven CJK decoders (PyCharsets) AND their unit walk,
  *  - the utf-16/utf-32 BOM/native-LE semantics,
  *  - the alias spellings CPython accepts but Charset.forName does not
  *    (every spelling of every resolved codec: SPELLINGS). */
class CharsetParitySpec extends AnyFunSuite {

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val rows: Vector[Array[String]] = {
    val in = getClass.getResourceAsStream("/golden/charset_cases.tsv.gz")
    require(in != null, "charset corpus missing — run tools/gen_charset_tables.py")
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(new GZIPInputStream(in), "UTF-8"))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally reader.close()
  }

  test("corpus shape sane") {
    assert(rows.size > 3000)
    assert(rows.exists(r => r(0) == "DEC" && r(1) == "gbk"))
    assert(rows.exists(r => r(0) == "ENC" && r(1) == "utf-32"))
  }

  test("DECODE: resourceText == CPython strict decode on every corpus row") {
    var checked = 0
    for (r <- rows if r(0) == "DEC") {
      val (enc, data, status, outHex) = (r(1), unhex(r(2)), r(3), r(4))
      val got: Option[String] =
        try Some(Rewriter.resourceText(
          graft.model.WResource(data, "text/plain", "https://x/", Some(enc), None)))
        catch { case _: Exception => None }
      val want: Option[String] =
        if (status == "OK") Some(new String(unhex(outHex), "UTF-8")) else None
      assert(got == want,
        s"$enc decode of ${r(2)}: got=${got.map(_.take(20))} want=${want.map(_.take(20))}")
      checked += 1
    }
    assert(checked > 2500, s"only $checked decode rows")
  }

  test("ENCODE: encodeText == CPython strict encode on every corpus row") {
    var checked = 0
    for (r <- rows if r(0) == "ENC") {
      val (enc, text, status, outHex) = (r(1), new String(unhex(r(2)), "UTF-8"), r(3), r(4))
      val got: Option[Seq[Byte]] =
        try Some(Rewriter.encodeText(text, enc).toSeq)
        catch { case _: Exception => None }
      val want: Option[Seq[Byte]] =
        if (status == "OK") Some(unhex(outHex).toSeq) else None
      assert(got == want,
        s"$enc encode of '${text.take(20)}': got=${got.map(_.take(12))} want=${want.map(_.take(12))}")
      checked += 1
    }
    assert(checked > 200, s"only $checked encode rows")
  }

  test("SPELLINGS: every CPython spelling of a resolved codec decodes and encodes as CPython does") {
    // golden/charset_spellings.tsv: tools/gen_charset_tables.py spellings —
    // the spellings codecs.lookup accepts for each codec the engine
    // resolves itself, with one sample text and its CPython encoding
    val in = getClass.getResourceAsStream("/golden/charset_spellings.tsv")
    require(in != null, "spelling table missing — run tools/gen_charset_tables.py spellings")
    val spellings = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    val wrong = for {
      Array(name, codec, textHex, bytesHex) <- spellings
      text = new String(unhex(textHex), "UTF-8")
      decoded = try Rewriter.resourceText(
          graft.model.WResource(unhex(bytesHex), "text/plain", "https://x/", Some(name), None))
        catch { case e: Exception => e.toString }
      encoded = try Rewriter.encodeText(text, name).toSeq.map("%02x".format(_)).mkString
        catch { case e: Exception => e.toString }
      if decoded != text || encoded != bytesHex
    } yield s"'$name' ($codec): decoded=$decoded encoded=$encoded"
    assert(spellings.map(_(1)).distinct.size == 17, "one sample per resolved codec")
    if (wrong.nonEmpty)
      fail(s"${wrong.size} of ${spellings.size} spellings differ:\n" + wrong.take(20).mkString("\n"))
  }
}
