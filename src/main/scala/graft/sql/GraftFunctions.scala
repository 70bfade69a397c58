package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftColumnBridge

import graft.core.WebArchiveOps
import graft.model.{WArchive, WResource}

/** parse_webarchive(body: binary) -> depth-2 archive struct (SURVEY.md §1.3). */
case class ParseWebArchiveExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import ParseWebArchiveExpr._
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (binary)")
  override def dataType: DataType = archiveType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_webarchive"
  override protected def nullSafeEval(body: Any): Any =
    try toInternal(WebArchiveOps.parse(body.asInstanceOf[Array[Byte]]))
    catch { case _: Exception => null }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object ParseWebArchiveExpr {
  val resourceType: StructType = StructType(Seq(
    StructField("data", BinaryType, nullable = false),
    StructField("mime_type", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("text_encoding", StringType, nullable = true),
    StructField("frame_name", StringType, nullable = true)))
  val subframeType: StructType = StructType(Seq(
    StructField("main", resourceType, nullable = false),
    StructField("subresources", ArrayType(resourceType, containsNull = false), nullable = false),
    StructField("deeper_frame_count", IntegerType, nullable = false)))
  val archiveType: StructType = StructType(Seq(
    StructField("main", resourceType, nullable = false),
    StructField("subresources", ArrayType(resourceType, containsNull = false), nullable = false),
    StructField("subframes", ArrayType(subframeType, containsNull = false), nullable = false)))

  private def res(r: WResource): InternalRow = InternalRow(
    r.data, UTF8String.fromString(r.mimeType), UTF8String.fromString(r.url),
    r.textEncoding.map(UTF8String.fromString).orNull,
    r.frameName.map(UTF8String.fromString).orNull)

  def toInternal(a: WArchive): InternalRow = InternalRow(
    res(a.main),
    new GenericArrayData(a.subresources.map(res).toArray[Any]),
    new GenericArrayData(a.subframes.map { sf =>
      InternalRow(
        res(sf.main),
        new GenericArrayData(sf.subresources.map(res).toArray[Any]),
        sf.subframes.length + sf.subframes.map(WebArchiveOps.frameCountBelowDepth2).sum)
    }.toArray[Any]))
}

/** Column API + SQL registration for the graft extraction operators. */
object GraftFunctions {

  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = GraftColumnBridge.expression(c)

  def extract_html(body: Column, url: Column): Column = col(ExtractAllExpr.field(ex(body), ex(url), 0))
  def extract_text(body: Column, url: Column): Column = col(ExtractAllExpr.field(ex(body), ex(url), 1))
  def extract_outlinks(body: Column, url: Column): Column = col(ExtractAllExpr.field(ex(body), ex(url), 2))
  def parse_webarchive(body: Column): Column = col(ParseWebArchiveExpr(ex(body)))
  def url_canonicalize(url: Column): Column = col(UrlCanonicalizeExpr(ex(url)))
  def url_join(base: Column, rel: Column): Column = col(UrlJoinExpr(ex(base), ex(rel)))
  def url_host(url: Column): Column = col(UrlHostExpr(ex(url)))
  def resource_count(body: Column): Column = col(ResourceCountExpr(ex(body)))
  def extract_files(body: Column, outName: Column): Column = col(ExtractFilesExpr(ex(body), ex(outName)))
  def fingerprint64(text: Column): Column = col(Fingerprint64Expr(ex(text)))
  def is_html_mime(m: Column): Column = col(IsHtmlMimeExpr(ex(m)))
  def is_text_mime(m: Column): Column = col(IsTextMimeExpr(ex(m)))
  def extract_all(body: Column, url: Column): Column = col(ExtractAllExpr(ex(body), ex(url)))
  def minhash_sigs(text: Column, shingleK: Int, numHashes: Int): Column =
    col(MinhashSigsExpr(ex(text), shingleK, numHashes))
  def shingle_hashes(text: Column, shingleK: Int): Column =
    col(ShingleHashesExpr(ex(text), shingleK))
  def simhash64(text: Column): Column = col(SimhashSigExpr(ex(text)))
  def text_stats(text: Column): Column = col(TextStatsExpr(ex(text)))

  /** SHA-256 host/path hashes (BASELINE.json F9) from built-ins — used for
    * seen-set layout inspection and stable cross-system url identities. */
  def url_host_hash(url: Column): Column =
    org.apache.spark.sql.functions.sha2(url_host(url), 256)
  def url_path_hash(url: Column): Column = {
    import org.apache.spark.sql.functions._
    val rest = regexp_replace(url, "^[a-z]+://[^/]*", "")
    sha2(when(rest === "", "/").otherwise(rest), 256)
  }

  private[sql] val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "extract_html" -> (args => ExtractAllExpr.field(args(0), args(1), 0)),
    "extract_text" -> (args => ExtractAllExpr.field(args(0), args(1), 1)),
    "extract_outlinks" -> (args => ExtractAllExpr.field(args(0), args(1), 2)),
    "parse_webarchive" -> (args => ParseWebArchiveExpr(args(0))),
    "url_canonicalize" -> (args => UrlCanonicalizeExpr(args(0))),
    "url_join" -> (args => UrlJoinExpr(args(0), args(1))),
    "url_host" -> (args => UrlHostExpr(args(0))),
    "resource_count" -> (args => ResourceCountExpr(args(0))),
    "extract_files" -> (args => ExtractFilesExpr(args(0), args(1))),
    "fingerprint64" -> (args => Fingerprint64Expr(args(0))),
    "is_html_mime" -> (args => IsHtmlMimeExpr(args(0))),
    "is_text_mime" -> (args => IsTextMimeExpr(args(0))),
    "extract_all" -> (args => ExtractAllExpr(args(0), args(1))),
    // sketch/text expressions: int params arrive as foldable literals in SQL
    "minhash_sigs" -> (args => MinhashSigsExpr(args(0), intArg(args(1)), intArg(args(2)))),
    "shingle_hashes" -> (args => ShingleHashesExpr(args(0), intArg(args(1)))),
    "simhash64" -> (args => SimhashSigExpr(args(0))),
    "text_stats" -> (args => TextStatsExpr(args(0))))

  private def intArg(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"expected an integer literal argument, got $other")
  }

  /** Register all operators in the session FunctionRegistry for SQL use.
    * Idempotent per session and per FUNCTION (queries call this
    * defensively): each name is checked individually, so a session holding
    * a partial/older registration still gets every missing function
    * (ADVICE r2 — gating the whole loop on registry.head silently skipped
    * functions added after the first registration). */
  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    for ((name, builder) <- registry if !fr.functionExists(FunctionIdentifier(name))) {
      fr.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.sql", name),
        builder)
    }
  }
}
