package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import graft.model.Candidate
import graft.store.{FrontierStore, Snapshot}

/** Partitioned bloom-filter + exact-table URL-seen set (J5 in SURVEY.md §2.3).
  *
  * The seen set is one LSM in two snapshot tables, and this object is the
  * only code that reads, writes, compacts or deletes from them: `seen`,
  * the exact (url, bucket) rows plus the tombstones of [[forget]], and
  * `blooms`, per-bucket filter segments ([[BucketBloom]]); each table
  * gains one segment per epoch until a major compaction rewrites both
  * ([[Probe.writes]]). [[init]] writes the empty set, [[probe]] filters
  * an epoch's candidates, and [[Probe.writes]] and [[forget]] hand the
  * epoch and the delete their writes as tasks for the caller to run
  * concurrently with its own.
  *
  * Scale design for a 10^10-URL frontier:
  *  - `bucket = pmod(murmur3_128(url), numBuckets)`; the compacted seen
  *    table is stored partitioned by bucket.
  *  - Candidates COGROUP with the filters on bucket: each bucket's filter
  *    bytes move to exactly one task per epoch (never broadcast, never all
  *    on the driver or one executor). Filter misses are DEFINITELY new (no
  *    false negatives) and skip the exact check entirely.
  *  - Only filter maybe-hits (true dupes + fpp of new) anti-join the seen
  *    table, and that read is partition-pruned to the buckets that actually
  *    contain maybe-hits.
  *  - Per-epoch passes are proportional to the batch, never to the crawl
  *    history, except the amortized compaction.
  *
  * Sizing at the north-rule target: 10^10 urls / 4096 buckets ≈ 2.44M per
  * bucket ≈ 2.9 MiB of filter at 1% fpp ≈ 12 GiB total, spread bucket-per-
  * task. Sandbox scales use small bucket counts (same code path).
  */
object SeenSet {

  /** Approximate-membership structure per bucket — the north-star names
    * both ("bloom/cuckoo URL-seen"). `Bloom` (default): Spark's
    * BloomFilter, ~9.6 bits/url at 1% fpp. `Cuckoo`: [[CuckooFilter]],
    * ~16.8 bits/url but fpp ~1.2e-4 per segment (the LSM lookup sums fpp
    * over segments, so 80x lower per-segment fpp buys long delta chains
    * between compactions). The crawl product is filter-kind invariant: a
    * filter only routes urls to the definitely-new fast path or the exact
    * anti-join (spec-pinned). Neither kind is edited in place: [[forget]]
    * leaves forgotten urls in the filters, where they only cost an exact
    * probe, until compaction rebuilds them. */
  sealed trait FilterKind extends Serializable
  case object Bloom extends FilterKind
  case object Cuckoo extends FilterKind

  final case class Config(numBuckets: Int = 64,
                          expectedPerBucket: Long = 1L << 20,
                          maxBloomSegments: Int = 12,
                          filterKind: FilterKind = Bloom)

  /** False-positive rate a bloom filter is sized for. */
  val BloomFpp = 0.01

  /** (bucket, filterBytes) rows — the persisted form (bloom or cuckoo;
    * the payload is self-describing via the CKF1 magic). */
  final case class BucketBloom(bucket: Int, bytes: Array[Byte])

  /** Uniform view over the two filter kinds for build + lookup. */
  sealed trait UrlFilter {
    def put(url: String): Unit
    def mightContain(url: String): Boolean
    def serialized: Array[Byte]
  }
  private final class BloomUrlFilter(bf: BloomFilter) extends UrlFilter {
    def put(url: String): Unit = bf.putString(url)
    def mightContain(url: String): Boolean = bf.mightContainString(url)
    def serialized: Array[Byte] = SeenSet.serialize(bf)
  }
  private final class CuckooUrlFilter(cf: CuckooFilter) extends UrlFilter {
    def put(url: String): Unit = cf.put(url)
    def mightContain(url: String): Boolean = cf.mightContain(url)
    def serialized: Array[Byte] = cf.serialized
    def stashSize: Int = cf.stashSize
  }

  def createFilter(cfg: Config, expected: Long): UrlFilter = cfg.filterKind match {
    case Bloom  => new BloomUrlFilter(BloomFilter.create(expected, BloomFpp))
    case Cuckoo => new CuckooUrlFilter(CuckooFilter.create(expected))
  }

  /** Build one bucket's filter from its urls. Bloom bits are insert-order
    * independent, so the shuffle's group iterator streams straight in; the
    * cuckoo table/stash layout is NOT (eviction paths depend on order), and
    * mapGroups value order is not stable across runs/task retries — sort
    * first so persisted cuckoo segment bytes are a pure function of the
    * url SET (replay/snapshot comparability). */
  private def fillFilter(cfg: Config, expected: Long, it: Iterator[String]): UrlFilter = {
    cfg.filterKind match {
      case Bloom =>
        val f = createFilter(cfg, expected)
        it.foreach(f.put)
        f
      case Cuckoo =>
        val a = it.toArray
        java.util.Arrays.sort(a.asInstanceOf[Array[Object]])
        // size from the ACTUAL count when it exceeds the configured
        // expectation: a cuckoo past ~0.955 load parks evictees in the
        // stash, degrading every probe from O(1) to O(stash) for the rest
        // of the epoch (r5 advisory) — blooms degrade gracefully (fpp
        // drift) but cuckoos must be capacity-sized
        val f = createFilter(cfg, math.max(expected, a.length.toLong))
        a.foreach(f.put)
        f match {
          case c: CuckooUrlFilter if c.stashSize > StashWarnThreshold =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"cuckoo filter stash at ${c.stashSize} entries " +
              s"(> $StashWarnThreshold) for ${a.length} urls — bucket oversized " +
              "vs expectedPerBucket; probes degrade to O(stash). Raise " +
              "numBuckets or expectedPerBucket.")
          case _ => ()
        }
        f
    }
  }

  /** Stash depth past which an overfull cuckoo bucket is surfaced
    * operationally (each stash entry is scanned linearly by every
    * mightContain for the rest of the filter's life). */
  val StashWarnThreshold = 64

  /** Payload-sniffing deserialize: segments written under either filter
    * kind coexist in one LSM chain (a crawl can flip kinds mid-life; the
    * next major compaction rewrites everything under the current kind). */
  def deserializeFilter(bytes: Array[Byte]): UrlFilter =
    if (CuckooFilter.isCuckooPayload(bytes))
      new CuckooUrlFilter(CuckooFilter.deserialize(bytes))
    else new BloomUrlFilter(deserialize(bytes))

  /** JVM-side bucket function; MUST stay consistent for the lifetime of a
    * crawl state (it keys both blooms and the seen-table layout). */
  def bucketOfUrl(url: String, numBuckets: Int): Int = {
    val h = com.google.common.hash.Hashing.murmur3_128()
      .hashString(url, java.nio.charset.StandardCharsets.UTF_8).asLong()
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def deserialize(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  /** Build per-bucket blooms from a set of urls. */
  def buildBlooms(spark: SparkSession, urls: Dataset[String], cfg: Config): Dataset[BucketBloom] = {
    import spark.implicits._
    urls.groupByKey(u => bucketOfUrl(u, cfg.numBuckets))
      .mapGroups { (bucket, it) =>
        BucketBloom(bucket, fillFilter(cfg, cfg.expectedPerBucket, it).serialized)
      }
  }

  /** Per-bucket blooms for ONE epoch's newly-seen delta, each filter sized
    * to its ACTUAL insert count. BloomFilter allocates bits for the
    * expected capacity up front, so sizing deltas at `expectedPerBucket`
    * would make every epoch's delta write as large as a full rewrite
    * (round 1 rewrote the whole ~12 GiB bucket table per epoch at the
    * target sizing). A url is maybe-seen if ANY segment filter contains
    * it (no false negatives ever), so each segment adds its own fpp to the
    * check; compaction ([[Probe.writes]]) bounds the segment list. */
  def buildDeltaBlooms(spark: SparkSession, urls: Dataset[String], cfg: Config): Dataset[BucketBloom] = {
    import spark.implicits._
    urls.groupByKey(u => bucketOfUrl(u, cfg.numBuckets))
      .mapGroups { (bucket, it) =>
        val buf = it.toArray
        BucketBloom(bucket,
          fillFilter(cfg, math.max(buf.length.toLong, 64L), buf.iterator).serialized)
      }
  }

  /** Pure per-url ordering shared with the oracle: priority DESC, retries
    * DESC, discoveredEpoch ASC. Selection under this order is
    * order-independent for a same-url group: a full tie on all three keys
    * implies identical rows (url is the group key and host is a function
    * of url), so folding any permutation picks the same winner. */
  def pickWinner(a: Candidate, b: Candidate): Candidate =
    if (a.priority != b.priority) { if (a.priority > b.priority) a else b }
    else if (a.retries != b.retries) { if (a.retries > b.retries) a else b }
    else if (a.discoveredEpoch <= b.discoveredEpoch) a else b

  /** Order-independent per-url merge of a candidate batch: per url, the
    * [[pickWinner]] winner over ORIGINAL rows with max(original retries)
    * applied once at the end. The retry ticket must survive: a fetch-miss
    * retry merged with a higher-priority retries=0 rediscovery would
    * otherwise be seen-filtered and never re-fetched. It is applied once,
    * not per step: a pairwise fold that copies the max onto each winner
    * feeds the inflated count into later retries-DESC tie-breaks, so the
    * merged discoveredEpoch would depend on iterator order (SeenSetSpec
    * pins the 3-duplicate counterexample). */
  private[frontier] def mergeByUrl(cs: Iterator[Candidate]): java.util.Iterator[Candidate] = {
    final class Acc(var winner: Candidate, var maxRetries: Int)
    val best = new java.util.HashMap[String, Acc]()
    cs.foreach { c =>
      val acc = best.get(c.url)
      if (acc == null) best.put(c.url, new Acc(c, c.retries))
      else {
        acc.winner = pickWinner(acc.winner, c)
        if (c.retries > acc.maxRetries) acc.maxRetries = c.retries
      }
    }
    val it = best.values().iterator()
    new java.util.Iterator[Candidate] {
      def hasNext = it.hasNext
      def next() = {
        val a = it.next()
        if (a.winner.retries == a.maxRetries) a.winner
        else a.winner.copy(retries = a.maxRetries)
      }
    }
  }

  /** FUSED in-batch URL dedup + bloom prefilter + partition-pruned exact
    * anti-join: since the url-dedup key and the bloom bucket are both
    * functions of url, one shuffle by bucket serves both (a separate
    * groupByKey(url) pass would shuffle the same rows twice). Retried
    * candidates (fetch-miss retries, recrawl requests) PASS regardless of
    * the seen verdict, but their verdict is still computed: the second
    * return value is the retried urls that are provably NOT in the seen
    * set (bloom miss — no false negatives — or exact-anti-join survivor),
    * which [[Probe]] registers as seen once scheduled (a recrawled
    * never-seen url would otherwise stay unseen forever and be re-crawled
    * by every future discovery). A fetch-miss retry is already seen and
    * never appears there. Returns (deduplicated schedulable candidates,
    * provably-new retried urls, the internal persisted frame — the CALLER
    * must unpersist it once the first two have materialized; leaving it to
    * the GC-driven ContextCleaner leaks a block-manager entry per epoch
    * between GCs, VERDICT r4 #2). */
  def dedupAndFilterNew(spark: SparkSession, candidates: Dataset[Candidate],
                        seen: DataFrame, blooms: Dataset[BucketBloom],
                        cfg: Config,
                        mayHaveRetries: Boolean = true): (Dataset[Candidate], Dataset[String], Dataset[_]) = {
    import spark.implicits._
    val marked: Dataset[(Candidate, Boolean, Int)] =
      candidates.groupByKey(c => bucketOfUrl(c.url, cfg.numBuckets))
        .cogroup(blooms.groupByKey(_.bucket)) { (bucket, cs, bs) =>
          // delta segments: maybe-seen = contained in ANY segment filter
          val fs = bs.filter(_.bytes.nonEmpty).map(b => deserializeFilter(b.bytes)).toArray
          val it = mergeByUrl(cs)
          new Iterator[(Candidate, Boolean, Int)] {
            def hasNext = it.hasNext
            def next() = {
              val c = it.next()
              var maybe = false
              var i = 0
              while (!maybe && i < fs.length) {
                maybe = fs(i).mightContain(c.url); i += 1
              }
              (c, maybe, bucket)
            }
          }
        }
    // COLUMNAR cache: the pre-r6 shape persisted the typed tuples, so every
    // downstream branch (definitely-new, maybe, retried splits) re-decoded
    // the full epoch frontier into Candidate objects — 3-5 object-decode
    // scans per epoch, the single largest exec cost of the epoch's main
    // job. Flattening to columns before the persist turns each branch into
    // a codegen'd filter over cached columnar batches; objects are only
    // rebuilt at the (small) typed boundaries that need them.
    val cached = marked.toDF("c", "maybe", "bucket")
      .select(col("c.url").as("url"), col("c.host").as("host"),
              col("c.priority").as("priority"),
              col("c.discoveredEpoch").as("discoveredEpoch"),
              col("c.retries").as("retries"), col("maybe"), col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candCols = Seq("url", "host", "priority", "discoveredEpoch", "retries").map(col)
    val maybe = cached.filter(col("maybe"))
    // partition-pruning the seen read needs a driver round-trip (collect of
    // the hot bucket ids) that forces the cogroup early — worth one extra
    // job only when there are enough buckets for the prune to skip real
    // I/O (the 10^10 sizing uses 4096; tests/bench use 8-32 where every
    // bucket is hot anyway). The bucket id rides out of the cogroup, so
    // the probe is a columnar distinct, not a per-url rehash.
    val pruned = if (cfg.numBuckets > 64) {
      val hotBuckets = maybe.select("bucket").distinct().as[Int].collect()
      prunedSeen(seen, hotBuckets, cfg.numBuckets)
    } else seen
    val survived = maybe.join(pruned.select(col("url")), Seq("url"), "left_anti")
    if (!mayHaveRetries) {
      // the caller proved no candidate carries a retry ticket (the common
      // steady-state epoch: snapshot counter frontierRetried == 0 and no
      // recrawl input) — the retry branches are provably empty, so the
      // plan drops two cache scans and the retried-url union outright
      val kept = cached.filter(!col("maybe")).select(candCols: _*)
        .unionByName(survived.select(candCols: _*)).as[Candidate]
      (kept, spark.emptyDataset[String], cached)
    } else {
      val kept = cached.filter(!col("maybe") || col("retries") > 0).select(candCols: _*)
        .unionByName(survived.filter(col("retries") === 0).select(candCols: _*))
        .as[Candidate]
      val newRetried = cached.filter(!col("maybe") && col("retries") > 0).select("url")
        .unionByName(survived.filter(col("retries") > 0).select("url")).as[String]
      (kept, newRetried, cached)
    }
  }

  /** The exact seen-table read restricted to the buckets that actually
    * contain bloom maybe-hits. With the table stored `partitionBy("bucket")`
    * the IN-filter lands as a parquet PARTITION filter, so every other
    * bucket directory is skipped entirely — at the 4096-bucket 10^10 sizing
    * the anti-join reads only the touched slivers of the multi-TB seen
    * table. Exposed for the pruning spec (plan + scanned-partition
    * assertions). */
  private[graft] def prunedSeen(seen: DataFrame, hotBuckets: Array[Int],
                                numBuckets: Int): DataFrame =
    if (hotBuckets.length < numBuckets)
      seen.filter(col("bucket").isin(hotBuckets.map(Integer.valueOf).toIndexedSeq: _*))
    else seen

  /** The seen set's snapshot tables: the exact rows and the filters. */
  private val Rows = "seen"
  private val Filters = "blooms"

  /** Writes an empty seen set as table versions of `epoch`; returns its
    * manifest entries. */
  def init(spark: SparkSession, store: FrontierStore, epoch: Long): Map[String, String] = {
    import spark.implicits._
    Map(Rows -> store.writeTable(Rows, epoch, spark.emptyDataset[(String, Int)].toDF("url", "bucket")),
        Filters -> store.writeTable(Filters, epoch, spark.emptyDataset[BucketBloom].toDF()))
  }

  /** The (url, bucket) rows of `urls`: the seen table's row shape, and
    * the key of its tombstones. */
  private def keyed(spark: SparkSession, urls: Dataset[String], numBuckets: Int): DataFrame = {
    import spark.implicits._
    urls.map(u => (u, bucketOfUrl(u, numBuckets))).toDF("url", "bucket")
  }

  /** [[dedupAndFilterNew]] over the seen set of `snap`. `mayHaveRetries`
    * is false only when the caller proved that no candidate carries a
    * retry ticket. */
  def probe(spark: SparkSession, store: FrontierStore, snap: Snapshot,
            candidates: Dataset[Candidate], cfg: Config, mayHaveRetries: Boolean): Probe = {
    import spark.implicits._
    val (unseen, newRetried, cache) = dedupAndFilterNew(spark, candidates,
      store.readTable(spark, snap, Rows), store.readTable(spark, snap, Filters).as[BucketBloom],
      cfg, mayHaveRetries)
    new Probe(spark, store, snap, cfg, mayHaveRetries, unseen, newRetried, cache)
  }

  /** One epoch's probe of a snapshot's seen set. `unseen` holds the
    * deduplicated schedulable candidates; `cache` is the probe's persisted
    * frame, which the caller releases once the epoch's writes are done. */
  final class Probe private[SeenSet] (spark: SparkSession, store: FrontierStore, snap: Snapshot,
                                      cfg: Config, mayHaveRetries: Boolean,
                                      val unseen: Dataset[Candidate], newRetried: Dataset[String],
                                      val cache: Dataset[_]) {

    /** The urls the epoch registers as seen, from its scheduled (url,
      * retries) rows. A url scheduled with retries=0 passed the filter, so
      * it is new by construction. A scheduled retried url is new only when
      * the probe proved it unseen: a recrawled never-seen url must be
      * registered, else every future discovery re-crawls it, and a
      * fetch-miss retry is already seen and must not be added twice. With
      * no retry ticket (mayHaveRetries false) that branch is provably empty
      * and stays out of the plan: the urls are a column projection of
      * `scheduled`. */
    private def newlySeen(scheduled: DataFrame): Dataset[String] = {
      import spark.implicits._
      if (!mayHaveRetries) scheduled.select("url").as[String]
      else scheduled.filter(col("retries") === 0).select("url").as[String]
        .union(scheduled.filter(col("retries") > 0).select("url")
          .join(newRetried.toDF("url"), Seq("url"), "left_semi").as[String])
    }

    /** The epoch's seen-set writes as tasks that return manifest entries.
      * `scheduled` holds the epoch's scheduled (url, retries) rows;
      * `partitions` is the compaction's write parallelism.
      *
      * Between compactions the newly-seen urls append one seen segment and
      * one filter segment, two independent tasks. When the filter list
      * would pass `maxBloomSegments`, one task compacts instead: it
      * rewrites the masked seen table plus the new rows as one segment
      * partitioned by bucket (repartitioned first: about one file per
      * bucket dir), then builds full-capacity filters from that segment as
      * stored. This bounds the segment-union fpp, the read fan-in and the
      * segment lists at an amortized 1/maxBloomSegments of a full seen
      * pass per epoch, and turns the >64-bucket pruned anti-join
      * ([[prunedSeen]]) into a parquet directory prune. */
    def writes(epoch: Long, scheduled: DataFrame,
               partitions: Int): Seq[() => Seq[(String, String)]] = {
      import spark.implicits._
      val fresh = newlySeen(scheduled)
      val delta = keyed(spark, fresh, cfg.numBuckets)
      if (snap.segments(Filters).length + 1 > cfg.maxBloomSegments) Seq { () =>
        val rows = store.writeTable(Rows, epoch, store.readTable(spark, snap, Rows).unionByName(delta)
          .repartition(partitions, col("bucket")), Seq("bucket"))
        val filters = buildBlooms(spark, store.readTable(spark,
          Snapshot(epoch, Map(Rows -> rows), Map.empty), Rows).select("url").as[String], cfg)
        Seq(Rows -> rows, Filters -> store.writeTable(Filters, epoch, filters.toDF()))
      }
      else Seq(
        () => Seq(Rows -> snap.append(Rows, store.writeTable(Rows, epoch, delta))),
        () => Seq(Filters -> snap.append(Filters,
          store.writeTable(Filters, epoch, buildDeltaBlooms(spark, fresh, cfg).toDF()))))
    }
  }

  /** A delete's seen-set write as a task that returns the manifest entry:
    * the urls' (url, bucket) rows as a delete segment of the seen rows
    * ([[FrontierStore.writeDeletes]]), which masks them in every older
    * segment. No seen row is read or rewritten; a url listed twice masks
    * the same rows as one listed once. The next epoch's newly-seen segment
    * lands after it, so a re-registered url reads as seen again, and the
    * next compaction drops it. The filters are left as they are: a
    * forgotten url's bloom bits or cuckoo fingerprint only route it to the
    * exact anti-join, which finds it unseen, until compaction rebuilds
    * the filters. */
  def forget(spark: SparkSession, store: FrontierStore, snap: Snapshot, epoch: Long,
             urls: Dataset[String], cfg: Config): () => Seq[(String, String)] =
    () => Seq(Rows -> snap.append(Rows, store.writeDeletes(Rows, epoch, keyed(spark, urls, cfg.numBuckets))))
}
