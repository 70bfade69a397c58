package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, Path}
import java.security.MessageDigest

/** Byte-identical parity vs the reference's own outputs on the golden
  * fixture corpus (BASELINE.json per-row invariant). */
class GoldenParitySpec extends AnyFunSuite {

  private val goldenDir: Path = {
    val url = getClass.getResource("/golden/archives")
    require(url != null, "golden fixtures missing — run tools/gen_fixtures.py")
    Paths.get(url.toURI).getParent
  }

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private val fixtureNames: Vector[String] = {
    val dir = goldenDir.resolve("archives")
    Files.list(dir).iterator().asInstanceOf[java.util.Iterator[Path]]
      .asScala.map(_.getFileName.toString.stripSuffix(".webarchive")).toVector.sorted
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  private def archiveBytes(name: String): Array[Byte] =
    Files.readAllBytes(goldenDir.resolve(s"archives/$name.webarchive"))

  test("fixture corpus is present") {
    assert(fixtureNames.size >= 14, fixtureNames.mkString(","))
  }

  // every archive in the golden corpus runs the full parity battery —
  // discovered, not hardcoded, so a newly generated fixture can never be
  // silently skipped (r5: the utf-16/shift_jis fixtures exposed exactly
  // that gap); per-golden `assume` still skips shapes the reference
  // cannot produce (e.g. to_html of a non-HTML main)
  for (name <- fixtureNames) {

    // the single-file html of every entry point must equal the reference's
    // to_html output byte for byte
    def assertToHtmlParity(what: String, html: => String): Unit = {
      val golden = goldenDir.resolve(s"tohtml/$name.html")
      assume(Files.exists(golden))
      val got = html.getBytes("UTF-8")
      val expected = Files.readAllBytes(golden)
      if (!java.util.Arrays.equals(got, expected)) {
        val g = new String(got, "UTF-8"); val e = new String(expected, "UTF-8")
        val diffAt = g.zip(e).indexWhere { case (a, b) => a != b }
        val at = if (diffAt < 0) math.min(g.length, e.length) else diffAt
        fail(s"$what mismatch at char $at:\n got: ...${g.slice(math.max(0, at - 60), at + 80)}\n exp: ...${e.slice(math.max(0, at - 60), at + 80)}\n(lengths ${g.length} vs ${e.length})")
      }
    }

    test(s"$name: to_html byte parity") {
      assertToHtmlParity("to_html", Rewriter.toHtml(WebArchiveOps.parse(archiveBytes(name))))
    }

    // registered only where the golden exists, so it never adds a cancel
    if (Files.exists(goldenDir.resolve(s"tohtml/$name.html")))
      test(s"$name: extract_all html byte parity") {
        assertToHtmlParity("extract_all", Rewriter.extractAll(WebArchiveOps.parse(archiveBytes(name)))._1)
      }

    test(s"$name: local paths parity") {
      val golden = goldenDir.resolve(s"localpaths/$name.tsv")
      assume(Files.exists(golden))
      val archive = WebArchiveOps.parse(archiveBytes(name))
      val got = WebArchiveOps.makeLocalPaths(archive)
      val expected = Files.readAllLines(golden).asScala_.filter(_.nonEmpty).map { l =>
        val a = l.split("\t", -1); (a(0), a(1))
      }
      assert(got == expected.toVector)
    }

    test(s"$name: multi-file extract parity (names + content hashes)") {
      val manifest = goldenDir.resolve(s"extract/$name/manifest.tsv")
      assume(Files.exists(manifest))
      val archive = WebArchiveOps.parse(archiveBytes(name))
      val files = Rewriter.extractFiles(archive, "page.html")
      val got = files.map { case (rel, bytes) => (rel, sha256(bytes)) }.sortBy(_._1)
      val expected = Files.readAllLines(manifest).asScala_.filter(_.nonEmpty).map { l =>
        val a = l.split("\t", -1); (a(0), a(1))
      }.filterNot(_._1 == "manifest.tsv").sortBy(_._1)
      assert(got.map(_._1) == expected.map(_._1).toVector, "file name sets differ")
      for (((gn, gh), (en, eh)) <- got.zip(expected)) {
        assert(gh == eh, s"content mismatch for $gn")
      }
    }
  }

  test("wikipedia: resource_count and structure") {
    val archive = WebArchiveOps.parse(archiveBytes("wikipedia"))
    assert(WebArchiveOps.resourceCount(archive) == 26)
    assert(archive.subresources.size == 25)
    assert(archive.main.mimeType == "text/html")
    assert(archive.main.url == "https://en.wikipedia.org/wiki/Main_Page")
  }

  test("deepframes: depth-3 extraction recurses fully; row schema counts the overflow") {
    val archive = WebArchiveOps.parse(archiveBytes("deepframes"))
    assert(WebArchiveOps.resourceCount(archive) == 6)
    val counts = deeperFrameCounts(archive)
    assert(counts.size == 1)
    assert(counts.head == 1, "level-3 frame must be counted")
  }

  test("frames: depth-2 row unroll keeps subframes") {
    val archive = WebArchiveOps.parse(archiveBytes("frames"))
    val counts = deeperFrameCounts(archive)
    assert(counts.size == 2)
    assert(counts.sum == 0)
  }

  /** `deeper_frame_count` of each subframe in `parse_webarchive`'s row. */
  private def deeperFrameCounts(archive: graft.model.WArchive): Vector[Int] = {
    val frames = graft.sql.ParseWebArchiveExpr.toInternal(archive).getArray(2)
    Vector.tabulate(frames.numElements())(
      frames.getStruct(_, graft.sql.ParseWebArchiveExpr.subframeType.size).getInt(2))
  }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala_ : Vector[A] = {
      val b = Vector.newBuilder[A]
      l.forEach(x => b += x)
      b.result()
    }
  }
}
