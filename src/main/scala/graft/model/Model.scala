package graft.model

/** Core data model (see SURVEY.md §1.3 and FIXTURES.md §2).
  *
  * `WResource`/`WArchive` are the recursive JVM-side model used inside
  * extraction (depth-recursive like the format itself,
  * the reference's webarchive.py:511-514). Their Spark-facing
  * form is `parse_webarchive`'s depth-2 struct
  * (`graft.sql.ParseWebArchiveExpr`) — Catalyst has no recursive types;
  * deeper frames are counted, never silently dropped.
  */
final case class WResource(
    data: Array[Byte],
    mimeType: String,
    url: String,
    textEncoding: Option[String],
    frameName: Option[String])

final case class WArchive(
    main: WResource,
    subresources: Vector[WResource],
    subframes: Vector[WArchive])

/** A frontier candidate URL. */
final case class Candidate(
    url: String,        // canonical form
    host: String,
    priority: Double,
    discoveredEpoch: Int,
    retries: Int)

/** Per-epoch, per-partition lineage row (north rule). */
final case class LineageRow(
    epoch: Int,
    partition: Int,
    hostBucket: Int,
    inRows: Long,
    outRows: Long,
    fetched: Long,
    deduped: Long,
    robotsBlocked: Long,
    retried: Long,
    salt: Int)
