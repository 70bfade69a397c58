package graft.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.InternalRow

import graft.core.{WebArchiveOps, Rewriter, PyUrl, Mime}
import graft.model.WArchive

/** Catalyst-native extraction operators (BASELINE.json north_star: "a
  * Catalyst-native extraction operator that mirrors pywebarchive's parsing
  * and main-resource HTML rewriting").
  *
  * All expressions are deterministic, null-intolerant and CodegenFallback:
  * extraction cost dominates by orders of magnitude, so interpreted-call
  * overhead is noise, while keeping them proper `Expression`s preserves
  * column pruning / filter pushdown around them (verified via explain).
  */
object ExtractionOps {

  /** Parse page body bytes into a WArchive: real webarchive plists are
    * decoded; plain HTML bytes become a single-main-resource archive (the
    * Common-Crawl-style case), so one operator serves both row shapes. */
  def archiveOf(body: Array[Byte], url: String): WArchive =
    if (isPlist(body)) WebArchiveOps.parse(body)
    else WArchive(
      graft.model.WResource(body, "text/html", url, Some("utf-8"), None),
      Vector.empty, Vector.empty)

  private def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val BPlist = ascii("bplist")
  private val XmlDecl = ascii("<?xml")
  private val PlistTag = ascii("<plist")

  /** The plist sniff, run on every row: at least 8 bytes, and "bplist" at
    * the start, or "<?xml" or "<plist" after leading whitespace within the
    * first 64 bytes. */
  private[graft] def isPlist(body: Array[Byte]): Boolean = body.length >= 8 && {
    val n = math.min(body.length, 64)
    startsAt(body, 0, n, BPlist) || {
      var i = 0
      while (i < n && Character.isWhitespace((body(i) & 0xff).toChar)) i += 1
      startsAt(body, i, n, XmlDecl) || startsAt(body, i, n, PlistTag)
    }
  }

  /** Whether `b(at until end)` begins with `p`. */
  private def startsAt(b: Array[Byte], at: Int, end: Int, p: Array[Byte]): Boolean =
    end - at >= p.length && java.util.Arrays.equals(b, at, at + p.length, p, 0, p.length)
}

/** url_canonicalize(url) -> string (null when not crawlable) */
case class UrlCanonicalizeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string)")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_canonicalize"
  override protected def nullSafeEval(url: Any): Any =
    (try PyUrl.canonicalize(url.asInstanceOf[UTF8String].toString)
     catch { case _: Exception => None }) match {
      case Some(c) => UTF8String.fromString(c)
      case None    => null
    }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** url_join(base, rel) -> string (CPython urljoin parity) */
case class UrlJoinExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] && right.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string, string)")
  override def dataType: DataType = StringType
  override def prettyName: String = "url_join"
  override protected def nullSafeEval(base: Any, rel: Any): Any =
    UTF8String.fromString(PyUrl.urljoin(base.asInstanceOf[UTF8String].toString,
                                        rel.asInstanceOf[UTF8String].toString))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** url_host(url) -> string ("" when malformed) */
case class UrlHostExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string)")
  override def dataType: DataType = StringType
  override def prettyName: String = "url_host"
  override protected def nullSafeEval(url: Any): Any =
    UTF8String.fromString(PyUrl.hostOf(url.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** resource_count(body: binary) -> int (recursive, webarchive.py:275-291) */
case class ResourceCountExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (binary)")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "resource_count"
  override protected def nullSafeEval(body: Any): Any =
    try WebArchiveOps.resourceCount(WebArchiveOps.parse(body.asInstanceOf[Array[Byte]]))
    catch { case _: Exception => null }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** fingerprint64(text) -> long: winnowing-style document fingerprint —
  * xxhash-mix of the 8 smallest 5-gram token hashes. One pass over the
  * string (the equivalent higher-order-function column recomputed the
  * tokenizer per gram: O(n^2) interpreted eval). */
case class Fingerprint64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string)")
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"
  override protected def nullSafeEval(text: Any): Any =
    Fingerprint64Expr.fingerprint(text.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object Fingerprint64Expr {
  private def mix(h0: Long): Long = {
    var h = h0 + 0x9E3779B97F4A7C15L
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }
  private def hashString(s: String): Long =
    com.google.common.hash.Hashing.murmur3_128()
      .hashString(s, java.nio.charset.StandardCharsets.UTF_8).asLong()

  def fingerprint(text0: String): Long = {
    val text = text0.toLowerCase
    // whitespace tokenize in one pass
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
      if (i > start) toks += text.substring(start, i)
    }
    val k = 5
    val grams: Iterator[Long] =
      if (toks.length >= k) (0 to toks.length - k).iterator.map(j => hashString(toks.slice(j, j + k).mkString(" ")))
      else Iterator(hashString(toks.mkString(" ")))
    // 8 smallest gram hashes via bounded heap (max-heap of size 8)
    val heap = new java.util.PriorityQueue[java.lang.Long](8, java.util.Collections.reverseOrder())
    grams.foreach { g =>
      if (heap.size < 8) heap.add(g)
      else if (g < heap.peek()) { heap.poll(); heap.add(g) }
    }
    val mins = new Array[Long](heap.size)
    var j = heap.size - 1
    while (j >= 0) { mins(j) = heap.poll(); j -= 1 } // descending poll -> ascending fill
    var acc = 0x27D4EB2F165667C5L
    for (m <- mins) acc = mix(acc ^ m)
    acc
  }
}

/** extract_files(body: binary, out_name: string) ->
  * array<struct<path:string, sha256:string, bytes:long>> — the multi-file
  * extraction sink (webarchive.py:93-225) as a manifest column: every file
  * the reference's extract() would write, with content hashes. */
case class ExtractFilesExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (binary, string)")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("sha256", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "extract_files"
  override protected def nullSafeEval(body: Any, outName: Any): Any = {
    try {
      val archive = WebArchiveOps.parse(body.asInstanceOf[Array[Byte]])
      val files = Rewriter.extractFiles(archive, outName.asInstanceOf[UTF8String].toString)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      new GenericArrayData(files.map { case (rel, bytes) =>
        val sha = md.digest(bytes).map("%02x".format(_)).mkString
        md.reset()
        InternalRow(UTF8String.fromString(rel), UTF8String.fromString(sha), bytes.length.toLong)
      }.toArray[Any])
    } catch { case _: Exception => null }
  }
  override def nullable: Boolean = true
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** is_html_mime(mime) / is_text_mime(mime): the reference's resource-class
  * predicates (util.py:224-233) as SQL-callable expressions. */
case class IsHtmlMimeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string)")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "is_html_mime"
  override protected def nullSafeEval(m: Any): Any =
    Mime.isHtml(m.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class IsTextMimeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string)")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "is_text_mime"
  override protected def nullSafeEval(m: Any): Any =
    Mime.isText(m.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** extract_all(body, url) -> struct<extracted_html, text, outlinks>: the
  * one extraction operator. It builds the fields in `fields`, a
  * [[Rewriter.extract]] field set fixed at construction, by that method's
  * rule; a body that `archiveOf` or the main's decode rejects nulls the
  * whole row. `extract_all` builds every field in one tokenizer pass;
  * `extract_html`, `extract_text` and `extract_outlinks` read one field of
  * a one-field extraction ([[ExtractAllExpr.field]]). */
case class ExtractAllExpr(left: Expression, right: Expression, fields: Int = Rewriter.AllFields)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (binary, string)")
  override def dataType: DataType = StructType(Seq(
    StructField("extracted_html", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("outlinks", ArrayType(StringType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "extract_all"
  override protected def nullSafeEval(body: Any, url: Any): Any = {
    try {
      val archive = ExtractionOps.archiveOf(body.asInstanceOf[Array[Byte]],
        url.asInstanceOf[UTF8String].toString)
      val (html, text, links) = Rewriter.extract(archive, fields)
      InternalRow(UTF8String.fromString(html), UTF8String.fromString(text),
        new GenericArrayData(links.map(UTF8String.fromString).toArray[Any]))
    } catch { case _: Exception => null }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

object ExtractAllExpr {
  /** Field `ordinal` of an extraction that builds only that field. */
  def field(body: Expression, url: Expression, ordinal: Int): Expression =
    GetStructField(ExtractAllExpr(body, url, 1 << ordinal), ordinal)
}
