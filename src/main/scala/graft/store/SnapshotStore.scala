package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Iceberg-shaped snapshot store over parquet (SURVEY.md §7.6).
  *
  * No Iceberg runtime jar exists in this offline sandbox, so the north
  * rule's "checkpoint to Iceberg snapshots" is implemented behind this
  * trait: versioned parquet table dirs + a JSON manifest committed by
  * ATOMIC RENAME. A snapshot is visible iff its manifest rename completed,
  * giving Iceberg-equivalent all-or-nothing semantics; resume reads the
  * highest committed manifest. Swappable for real Iceberg (same call
  * sites: writeTable/commit/latest).
  *
  * The store owns the table format. A snapshot table is a list of
  * segments (table-version dirs, oldest first): append tables such as
  * seen, blooms, scheduled, lineage and extracted add one per epoch, a
  * delete adds a frontier delta and a seen delete segment. Callers list
  * and extend it only through [[Snapshot.segments]], [[Snapshot.append]]
  * and [[Snapshot.entry]], and read it only through [[readTable]].
  *
  * Row-level deletes are merge-on-read, as Iceberg v2 equality deletes: a
  * delete segment ([[writeDeletes]]) holds key rows that mask the matching
  * rows of every OLDER data segment of the same list and of no newer one,
  * so a key re-added after its delete reads again. A rewrite of the table
  * from [[readTable]] (compaction) applies the deletes physically.
  */
trait FrontierStore {
  def writeTable(name: String, epoch: Long, df: DataFrame, partitionBy: Seq[String] = Nil): String
  def commit(epoch: Long, tables: Map[String, String], counters: Map[String, Long]): Unit
  def latest(): Option[Snapshot]

  /** The table's data segments as one frame, each read with the schema it
    * was written with and masked by the delete segments listed after it. */
  def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame

  /** Writes `keys` as a delete segment of table `name` and returns its path,
    * for [[Snapshot.append]]: once appended, [[readTable]] drops every row
    * of an older segment whose values in `keys`' columns equal a key row.
    * The segment is an ordinary table version whose columns carry the
    * [[FrontierStore.DeleteKey]] metadata, which the stored schema keeps. */
  def writeDeletes(name: String, epoch: Long, keys: DataFrame): String =
    writeTable(s"$name-del", epoch, keys.select(keys.columns.toIndexedSeq.map(c =>
      keys(c).as(c, new MetadataBuilder().putBoolean(FrontierStore.DeleteKey, true).build())): _*))

  /** Iceberg `expire_snapshots` analog: keep the newest `retain` committed
    * manifests, delete the older ones, then delete every table-version dir
    * referenced by NO retained manifest. Append-segment tables (seen,
    * blooms, scheduled, lineage, extracted) keep their full history because
    * the retained manifests reference every live segment; only superseded
    * full-rewrite versions (frontier, pre-compaction bloom generations and
    * the seen segments and delete segments a compaction folded) and
    * crash-orphaned uncommitted dirs are reclaimed. Safe against an
    * in-flight epoch: an uncommitted dir is only reaped when its epoch is
    * <= the latest COMMITTED epoch (an in-progress epoch is strictly
    * newer, so its pre-commit writes are never touched).
    * Returns (manifestsDeleted, tableDirsDeleted). */
  def expire(retain: Int): (Int, Int)
}

object FrontierStore {
  /** Column metadata key that marks a segment's columns as delete keys. */
  val DeleteKey = "graft.delete_key"

  /** Whether a segment with this schema is a delete segment. */
  def isDeletes(schema: StructType): Boolean =
    schema.nonEmpty && schema.forall(_.metadata.contains(DeleteKey))
}

/** A committed snapshot. `tables` maps each table to its manifest entry,
  * the table's segment paths joined by `;`, oldest first. A path may be a
  * delete segment; its place in the list is its sequence number, so
  * appending keeps the delete rule of [[FrontierStore.readTable]]. */
final case class Snapshot(epoch: Long, tables: Map[String, String], counters: Map[String, Long]) {

  /** The table's segment paths, oldest first; empty for an absent table. */
  def segments(name: String): IndexedSeq[String] =
    tables.get(name).fold(IndexedSeq.empty[String])(_.split(';').toIndexedSeq)

  /** The table's manifest entry with `path` appended as its newest segment. */
  def append(name: String, path: String): String = Snapshot.entry(segments(name) :+ path)
}

object Snapshot {
  /** The manifest entry of a table made of `segments`, oldest first. */
  def entry(segments: Seq[String]): String = segments.mkString(";")
}

/** Parquet table versions under `root/tables/<name>/v<epoch>`, manifests
  * under `root`. Each version dir also holds `_schema.json`, the written
  * frame's schema: every segment is read with it, so a read launches no
  * schema-inference job and a zero-row `partitionBy` write (which leaves no
  * parquet footer) reads back as an empty table. Parquet readers skip
  * files whose names start with `_`.
  *
  * The manifest's flat JSON holds table names, counter names and paths
  * verbatim, so a root that contains `, ; " \ { }` or a control character
  * is rejected. */
final class ParquetSnapshotStore(root: String) extends FrontierStore {
  require(!root.exists(c => Character.isISOControl(c) || ",;\"\\{}".indexOf(c) >= 0),
    "store root must not contain , ; \" \\ { } or control characters: " + root)

  /** Snapshot root directory (for resume: open a new store on the same root). */
  def rootDir: String = root

  private val rootPath = Paths.get(root)
  private val SchemaFile = "_schema.json"
  Files.createDirectories(rootPath)

  override def writeTable(name: String, epoch: Long, df: DataFrame,
                          partitionBy: Seq[String] = Nil): String = {
    val path = rootPath.resolve(s"tables/$name/v$epoch")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path.toString)
    Files.write(path.resolve(SchemaFile), df.schema.json.getBytes(StandardCharsets.UTF_8))
    path.toString
  }

  private def q(s: String): String = "\"" + s + "\""

  override def commit(epoch: Long, tables: Map[String, String],
                      counters: Map[String, Long]): Unit = {
    val json =
      s"""{"epoch":$epoch,"tables":{${tables.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},""" +
      s""""counters":{${counters.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}"""
    val tmp = rootPath.resolve(s".manifest-$epoch.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, rootPath.resolve(s"manifest-$epoch.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The entries of `dir`, none if it is not a directory. Files.list holds
    * an open directory handle until closed — this runs at least once per
    * epoch, so an unclosed stream would leak an fd per epoch. */
  private def list(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  /** The epoch in file name `n` = prefix + epoch + suffix, if it is one. */
  private def epochOf(n: String, prefix: String, suffix: String): Option[Long] =
    if (n.startsWith(prefix) && n.endsWith(suffix))
      n.stripPrefix(prefix).stripSuffix(suffix).toLongOption
    else None

  /** All committed manifests as (epoch, file). */
  private def listManifests(): Vector[(Long, Path)] =
    list(rootPath).flatMap(p => epochOf(p.getFileName.toString, "manifest-", ".json").map((_, p)))

  private def readManifest(p: Path): Snapshot =
    parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  override def latest(): Option[Snapshot] =
    listManifests().maxByOption(_._1).map(m => readManifest(m._2))

  override def expire(retain: Int): (Int, Int) = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val ms = listManifests().sortBy(-_._1)
    if (ms.isEmpty) return (0, 0)
    val latestCommitted = ms.head._1
    val (retained, expired) = ms.splitAt(retain)
    // every table-version dir any retained manifest references stays live
    // — including old epochs' append segments
    val referenced = for ((_, mf) <- retained.toSet; snap = readManifest(mf);
                          name <- snap.tables.keys; seg <- snap.segments(name) if seg.nonEmpty)
      yield Paths.get(seg).toAbsolutePath.normalize
    // manifests first: after this point no surviving manifest references a
    // dir the next step deletes (a crash in between only leaves
    // unreferenced dirs, reaped by the next expire)
    expired.foreach { case (_, p) => Files.deleteIfExists(p) }
    // tmp files from crashed commits at committed-or-older epochs
    for (p <- list(rootPath)
         if epochOf(p.getFileName.toString, ".manifest-", ".json.tmp").exists(_ <= latestCommitted))
      Files.deleteIfExists(p)
    // reap unreferenced table-version dirs from committed-or-older epochs
    val stale = for (tableDir <- list(rootPath.resolve("tables")); vDir <- list(tableDir)
                     if epochOf(vDir.getFileName.toString, "v", "").exists(_ <= latestCommitted) &&
                       !referenced.contains(vDir.toAbsolutePath.normalize))
      yield vDir
    stale.foreach(deleteRecursively)
    (expired.size, stale.size)
  }

  private def deleteRecursively(p: Path): Unit = {
    list(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Tiny purpose-built JSON reader for our own flat manifests. */
  private def parseManifest(json: String): Snapshot = {
    def section(name: String): Map[String, String] = {
      val i = json.indexOf("\"" + name + "\":{")
      if (i < 0) return Map.empty
      val start = json.indexOf('{', i)
      val end = json.indexOf('}', start)
      val body = json.substring(start + 1, end).trim
      if (body.isEmpty) Map.empty
      else body.split(",").map { kv =>
        val ci = kv.indexOf(':')
        val k = kv.substring(0, ci).trim.stripPrefix("\"").stripSuffix("\"")
        val v = kv.substring(ci + 1).trim.stripPrefix("\"").stripSuffix("\"")
        k -> v
      }.toMap
    }
    val epoch = {
      val i = json.indexOf("\"epoch\":")
      json.substring(i + 8).takeWhile(c => c.isDigit || c == '-').toLong
    }
    Snapshot(epoch, section("tables"), section("counters").map { case (k, v) => k -> v.toLong })
  }

  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame = {
    // Segments are read PER ROOT and unioned: a single multi-root read
    // trips Spark's CONFLICTING_DIRECTORY_STRUCTURES check as soon as one
    // segment is bucket-partitioned (the post-compaction seen table) and
    // others are not (deltas). Filters push through the Union into every
    // branch, so partition pruning on partitioned segments still works.
    val segs = snap.segments(name).map { seg =>
      val schema = DataType.fromJson(new String(
        Files.readAllBytes(Paths.get(seg, SchemaFile)), StandardCharsets.UTF_8)).asInstanceOf[StructType]
      (FrontierStore.isDeletes(schema), spark.read.schema(schema).parquet(seg))
    }
    // each data segment anti-joins the union of the delete segments listed
    // after it: the sequence-number rule. No join hint: a delete segment is
    // as large as its url list, and the planner broadcasts one by its size
    val data = segs.indices.filterNot(segs(_)._1).map { i =>
      val deletes = segs.drop(i + 1).collect { case (true, d) => d }
      if (deletes.isEmpty) segs(i)._2
      else segs(i)._2.join(deletes.reduce(_ unionByName _),
        deletes.head.columns.toSeq, "left_anti")
    }
    require(data.nonEmpty, s"table $name has no data segment")
    data.reduce(_ unionByName _)
  }
}
