package graft.core

import graft.model._
import Plist._

/** Webarchive decoding + derived per-archive state.
  *
  * Semantics from /root/reference/webarchive/webarchive.py:491-527 (plist
  * shredding), webresource.py:135-171 (per-resource field + encoding
  * normalization) and webarchive.py:406-489 (local-path derivation).
  */
object WebArchiveOps {

  final class WebArchiveException(msg: String) extends RuntimeException(msg)

  /** webresource.py:160-165: declared encoding lowercased; text resources
    * (text/ prefix or HTML) default to utf-8. */
  private def normEncoding(declared: Option[String], mime: String): Option[String] =
    declared.map(_.toLowerCase) match {
      case s @ Some(_)                 => s
      case None if Mime.isText(mime)   => Some("utf-8")
      case None                        => None
    }

  private def decodeResource(d: PDict): WResource = {
    val data = d.get("WebResourceData") match {
      case Some(PData(b)) => b
      case _ => throw new WebArchiveException("resource missing WebResourceData")
    }
    val mime = d.get("WebResourceMIMEType") match {
      case Some(PStr(s)) => s
      case _ => throw new WebArchiveException("resource missing WebResourceMIMEType")
    }
    val url = d.get("WebResourceURL") match {
      case Some(PStr(s)) => s
      case _ => throw new WebArchiveException("resource missing WebResourceURL")
    }
    val enc = d.get("WebResourceTextEncodingName").collect { case PStr(s) => s }
    val frame = d.get("WebResourceFrameName").collect { case PStr(s) => s }
    WResource(data, mime, url, normEncoding(enc, mime), frame)
  }

  private def decodeArchiveDict(d: PDict): WArchive = {
    val main = d.get("WebMainResource") match {
      case Some(m: PDict) => decodeResource(m)
      case _ => throw new WebArchiveException("archive missing WebMainResource")
    }
    val subs = d.get("WebSubresources") match {
      case Some(PArray(items)) => items.collect { case x: PDict => decodeResource(x) }
      case _ => Vector.empty
    }
    val frames = d.get("WebSubframeArchives") match {
      case Some(PArray(items)) => items.collect { case x: PDict => decodeArchiveDict(x) }
      case _ => Vector.empty
    }
    WArchive(main, subs, frames)
  }

  /** Parse raw `.webarchive` bytes (binary or XML plist). */
  def parse(bytes: Array[Byte]): WArchive = Plist.parse(bytes) match {
    case d: PDict => decodeArchiveDict(d)
    case other    => throw new WebArchiveException(s"top-level plist is not a dict")
  }

  /** webarchive.py:275-291 */
  def resourceCount(a: WArchive): Int =
    1 + a.subresources.length + a.subframes.map(resourceCount).sum

  def frameCountBelowDepth2(a: WArchive): Int =
    a.subframes.map(sf => sf.subframes.length + sf.subframes.map(frameCountBelowDepth2).sum).sum

  // --- local paths (webarchive.py:406-489) ----------------------------------

  private val forbiddenChars = "%<>:\"/\\|?*"
  private val dosDevices = Set("con", "prn", "aux", "nul")

  /** os.path.splitext semantics: split at last '.' in the basename, but a
    * basename consisting only of leading dots has no extension. */
  private def splitext(name: String): (String, String) = {
    val dot = name.lastIndexOf('.')
    if (dot < 0) return (name, "")
    // CPython: the extension dot must be preceded by at least one non-dot
    // char (".bashrc" -> no extension)
    var k = 0
    while (k < dot) {
      if (name.charAt(k) != '.') return (name.substring(0, dot), name.substring(dot))
      k += 1
    }
    (name, "")
  }

  /** webarchive.py:406-466 — derive one local basename, unique within
    * `existing` (insertion-ordered values). */
  def makeLocalPath(url: String, mime: String, existingValues: Iterable[String]): String = {
    var base = ""
    if (url != null && url.nonEmpty) {
      val parsed = PyUrl.urlparse(url)
      if (parsed.scheme == "data") base = "data_url"
      else {
        val pathBase = {
          val p = parsed.path
          val slash = p.lastIndexOf('/')
          if (slash >= 0) p.substring(slash + 1) else p
        }
        base = splitext(pathBase)._1
      }
    }
    if (base.isEmpty) base = "blank_url"
    var ext = Mime.guessExtension(mime.toLowerCase)
    for (c <- forbiddenChars) base = base.replace(c.toString, "_")
    val bl = base.toLowerCase
    if (dosDevices.contains(bl) ||
        (base.length == 4 && (bl.startsWith("com") || bl.startsWith("lpt")) && base.charAt(3).isDigit))
      base = base + "_"
    var localPath = base + ext
    var copyNum = 1
    val values = existingValues.toSet
    while (values.contains(localPath)) {
      copyNum += 1
      localPath = s"$base.$copyNum$ext"
    }
    localPath
  }

  /** webarchive.py:468-489 — URL -> basename index over {main} ∪
    * subresources ∪ subframe mains, in plist order (order load-bearing). */
  def makeLocalPaths(a: WArchive): Vector[(String, String)] = {
    val resources = (a.main +: a.subresources) ++ a.subframes.map(_.main)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (r <- resources if !acc.contains(r.url))
      acc(r.url) = makeLocalPath(r.url, r.mimeType, acc.values)
    acc.toVector
  }
}
