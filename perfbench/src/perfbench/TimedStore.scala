package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.{FrontierStore, ParquetSnapshotStore, Snapshot}
import java.nio.file.{Files, Path, Paths}

/** A [[FrontierStore]] that opens one span per store call and, while
  * tracing, records the bytes and files of every table version written.
  * Store-internal table names such as `seen-d3` (a copy-on-write delete
  * segment) are reported under their base table. */
final class TimedStore(val inner: ParquetSnapshotStore, tracer: Tracer) extends FrontierStore {

  /** table -> (bytes, files) written */
  val written = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  override def writeTable(name: String, epoch: Long, df: DataFrame,
                          partitionBy: Seq[String] = Nil): String = {
    val table = TimedStore.baseTable(name)
    tracer.span(s"write.$table") {
      val path = inner.writeTable(name, epoch, df, partitionBy)
      if (tracer.enabled) {
        val (bytes, files) = TimedStore.du(Paths.get(path), dataOnly = true)
        written.synchronized {
          val (b, f) = written.getOrElse(table, (0L, 0L))
          written(table) = (b + bytes, f + files)
        }
      }
      path
    }
  }

  override def commit(epoch: Long, tables: Map[String, String], counters: Map[String, Long]): Unit =
    tracer.span("commit")(inner.commit(epoch, tables, counters))

  override def latest(): Option[Snapshot] = tracer.span("read")(inner.latest())

  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
    tracer.span("read")(inner.readTable(spark, snap, name))

  override def expire(retain: Int): (Int, Int) = tracer.span("expire")(inner.expire(retain))
}

object TimedStore {
  val Tables = Seq("extracted", "frontier", "scheduled", "lineage", "seen", "blooms")

  def baseTable(name: String): String = name.takeWhile(_ != '-')

  /** (bytes, files) under `root`; with `dataOnly`, Spark's `_SUCCESS`
    * markers and `.crc` checksums are not counted as files. */
  def du(root: Path, dataOnly: Boolean): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    var bytes = 0L
    var files = 0L
    val s = Files.walk(root)
    try s.forEach { p =>
      if (Files.isRegularFile(p)) {
        val n = p.getFileName.toString
        bytes += Files.size(p)
        if (!dataOnly || !(n.startsWith("_") || n.startsWith("."))) files += 1
      }
    } finally s.close()
    (bytes, files)
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}
