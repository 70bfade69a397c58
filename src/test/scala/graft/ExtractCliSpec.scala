package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** The single-archive CLI (reference extractor.py:16-63): byte parity of
  * the extracted tree against the reference-generated golden manifest. */
class ExtractCliSpec extends AnyFunSuite {

  private lazy val wiki: String = {
    val p = Files.createTempFile("wikipedia", ".webarchive")
    Files.write(p, Fixtures.wikipediaArchive())
    p.toString
  }

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def goldenManifest: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/extract/wikipedia/manifest.tsv"), "UTF-8")
    try src.getLines().map { l => val Array(p, h) = l.split("\t"); p -> h }.toMap
    finally src.close()
  }

  test("CLI multi-file extraction matches the reference golden manifest") {
    val dir = Files.createTempDirectory("extract-cli")
    val out = dir.resolve("page.html")
    Extract.main(Array(wiki, out.toString))
    val golden = goldenManifest
    val written = Files.walk(dir).iterator()
    val got = scala.collection.mutable.Map.empty[String, String]
    while (written.hasNext) {
      val p = written.next()
      if (Files.isRegularFile(p))
        got(dir.relativize(p).toString) = sha256(Files.readAllBytes(p))
    }
    assert(got.toMap == golden, "CLI tree differs from reference golden")
  }

  test("CLI derives output path from input path (foo.webarchive -> foo.html)") {
    val dir = Files.createTempDirectory("extract-cli-derive")
    val in = dir.resolve("sample.webarchive")
    Files.copy(Paths.get(wiki), in)
    Extract.main(Array(in.toString))
    assert(Files.isRegularFile(dir.resolve("sample.html")))
    assert(Files.isDirectory(dir.resolve("sample_files")))
    val golden = goldenManifest
    // the subresource dir derives from the output name (reference
    // semantics: webarchive extract names it <base>_files), so the main
    // html matches the golden only modulo that directory rename…
    val html = new String(Files.readAllBytes(dir.resolve("sample.html")),
      java.nio.charset.StandardCharsets.UTF_8)
    val renamed = html.replace("sample_files/", "page_files/")
    assert(sha256(renamed.getBytes(java.nio.charset.StandardCharsets.UTF_8)) ==
      golden("page.html"), "main html must match golden modulo the _files rename")
    // …and every subresource byte-matches its golden twin
    val sub = Files.list(dir.resolve("sample_files"))
    try sub.iterator().forEachRemaining { p =>
      val rel = "page_files/" + p.getFileName.toString
      assert(golden.get(rel).contains(sha256(Files.readAllBytes(p))), s"mismatch: $rel")
    } finally sub.close()
  }

  test("CLI output derivation is os.path.splitext: basename-only, leading dot kept") {
    // dots in PARENT directories are not split points (ADVICE r2: the old
    // whole-path lastIndexOf('.') made 'v1.2/archive' -> 'v1.html')
    val dir = Files.createTempDirectory("extract-cli-splitext")
    val dotted = dir.resolve("v1.2")
    Files.createDirectories(dotted)
    val in1 = dotted.resolve("archive")
    Files.copy(Paths.get(wiki), in1)
    Extract.main(Array("-s", in1.toString))
    assert(Files.isRegularFile(dotted.resolve("archive.html")),
      "extensionless input in a dotted dir must extract NEXT TO the input")
    // a leading-dot basename has no extension: '.webarchive' -> '.webarchive.html'
    val in2 = dir.resolve(".webarchive")
    Files.copy(Paths.get(wiki), in2)
    Extract.main(Array("-s", in2.toString))
    assert(Files.isRegularFile(dir.resolve(".webarchive.html")))
  }

  test("CLI single-file mode writes one self-contained html") {
    val dir = Files.createTempDirectory("extract-cli-single")
    val out = dir.resolve("single.html")
    Extract.main(Array("--single-file", wiki, out.toString))
    assert(Files.isRegularFile(out))
    val body = new String(Files.readAllBytes(out), java.nio.charset.StandardCharsets.UTF_8)
    assert(body.contains("data:"), "single-file mode embeds subresources as data URIs")
    val files = Files.list(dir)
    try assert(files.count() == 1, "no sidecar files in single-file mode")
    finally files.close()
  }
}
