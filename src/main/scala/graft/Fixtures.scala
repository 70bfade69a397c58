package graft

import java.nio.file.{Files, Paths}

/** The Wikipedia sample archive (400,939 bytes) that the parity queries
  * and the extraction CLI spec read. The repository ships it as a test
  * resource: it is read from the classpath when the test classpath is
  * present, else from the repository checkout (runs from the repository
  * root, e.g. `sbt runMain graft.Verify`). */
object Fixtures {
  private val WikipediaResource = "/golden/archives/wikipedia.webarchive"
  private val WikipediaFile = "src/test/resources/golden/archives/wikipedia.webarchive"

  def wikipediaArchive(): Array[Byte] = {
    val in = getClass.getResourceAsStream(WikipediaResource)
    if (in != null) try in.readAllBytes() finally in.close()
    else if (Files.isRegularFile(Paths.get(WikipediaFile))) Files.readAllBytes(Paths.get(WikipediaFile))
    else throw new java.io.FileNotFoundException(
      s"Wikipedia archive: no classpath resource $WikipediaResource and no file $WikipediaFile")
  }
}
