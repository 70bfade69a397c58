package graft.frontier

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo Filter:
  * Practically Better Than Bloom", CoNEXT 2014) — the second approximate-
  * membership structure the north-star names ("bloom/cuckoo URL-seen").
  *
  * Why offer it next to [[org.apache.spark.util.sketch.BloomFilter]]:
  *  - Far lower false-positive rate per probe at these sizes: 4-slot
  *    buckets with 16-bit fingerprints give fpp <= 2*4/2^16 ~ 1.2e-4 at
  *    full load vs the blooms' 1e-2 — and in the LSM seen-set the fpp of a
  *    lookup is the SUM over segments, so segment fan-in costs 80x less
  *    before compaction must bound it.
  *  - Bounded, cache-friendly lookups: exactly 2 bucket probes (8 slots)
  *    per query vs k scattered bit reads.
  * Cost: ~16.8 bits/item at 0.955 max load vs ~9.6 bits/item for a 1% fpp
  * bloom — the bucketed layout keeps either comfortably inside one task.
  *
  * Determinism: crawl state must REPLAY EXACTLY (north rule), so the
  * eviction path uses an internal LCG seeded from the capacity, never
  * `Math.random` — identical insert ORDER => identical serialized bytes.
  * Unlike a bloom's bit-set the table/stash layout does depend on that
  * order, and Spark's mapGroups value order is not stable across runs, so
  * the SeenSet build path sorts each bucket's urls first — making
  * persisted segment bytes a pure function of the url SET.
  *
  * Standard construction, summarized: item hash h (murmur3_128 low half);
  * fingerprint = high 16 bits of h (0 remapped to 1; 0 marks an empty
  * slot); i1 = low bits of h; i2 = i1 XOR mix(fp) (partial-key cuckoo
  * hashing: either index + the fingerprint recovers the other, so an
  * eviction never needs the original key). An insert that exhausts
  * `MaxKicks` evictions parks the victim in a small stash that lookups
  * also consult — the filter NEVER false-negatives, even overfull. */
final class CuckooFilter private (
    private val numBuckets: Int, // power of 2
    private val table: Array[Short],
    private var count: Long,
    private val stash: scala.collection.mutable.ArrayBuffer[(Int, Short)],
    private var lcg: Long) extends Serializable {

  import CuckooFilter._

  def size: Long = count

  /** Entries parked by overfull inserts — every mightContain scans
    * this linearly, so a growing stash is the operational signal that the
    * filter was sized below its actual load (SeenSet warns past
    * [[SeenSet.StashWarnThreshold]]). */
  def stashSize: Int = stash.length

  private def indexMask: Int = numBuckets - 1

  @inline private def altIndex(i: Int, fp: Short): Int =
    (i ^ (mix(fp) & indexMask)) & indexMask

  @inline private def slot(i: Int, s: Int): Short = table(i * SlotsPerBucket + s)

  @inline private def setSlot(i: Int, s: Int, v: Short): Unit =
    table(i * SlotsPerBucket + s) = v

  private def bucketHas(i: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (slot(i, s) == fp) return true
      s += 1
    }
    false
  }

  private def tryInsertAt(i: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (slot(i, s) == EmptySlot) { setSlot(i, s, fp); return true }
      s += 1
    }
    false
  }

  /** Deterministic pseudo-random draw in [0, n). */
  private def nextInt(n: Int): Int = {
    lcg = lcg * 6364136223846793005L + 1442695040888963407L
    (((lcg >>> 33) % n) + n).toInt % n
  }

  def put(url: String): Unit = {
    val h = hash(url)
    val fp = fingerprint(h)
    val i1 = (h & indexMask).toInt
    val i2 = altIndex(i1, fp)
    // MULTISET insert (Fan et al.'s construction): every put stores a copy,
    // even on a fingerprint match, so `size` counts inserts and persisted
    // segment bytes are a function of the inserted url multiset alone
    count += 1
    if (tryInsertAt(i1, fp) || tryInsertAt(i2, fp)) return
    // evict loop (partial-key: the fingerprint alone derives the alt index)
    var idx = if (nextInt(2) == 0) i1 else i2
    var cur = fp
    var kicks = 0
    while (kicks < MaxKicks) {
      val s = nextInt(SlotsPerBucket)
      val victim = slot(idx, s)
      setSlot(idx, s, cur)
      cur = victim
      idx = altIndex(idx, cur)
      if (tryInsertAt(idx, cur)) return
      kicks += 1
    }
    stash += ((idx, cur)) // overfull: park the victim; no false negatives
  }

  def mightContain(url: String): Boolean = {
    val h = hash(url)
    val fp = fingerprint(h)
    val i1 = (h & indexMask).toInt
    val i2 = altIndex(i1, fp)
    if (bucketHas(i1, fp) || bucketHas(i2, fp)) return true
    var k = 0
    while (k < stash.length) {
      val (si, sfp) = stash(k)
      if (sfp == fp && (si == i1 || si == i2)) return true
      k += 1
    }
    false
  }

  def serialized: Array[Byte] = {
    val buf = ByteBuffer.allocate(16 + 8 + 4 + stash.length * 6 + table.length * 2)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic)
    buf.putInt(numBuckets)
    buf.putLong(count)
    buf.putLong(lcg)
    buf.putInt(stash.length)
    stash.foreach { case (i, fp) => buf.putInt(i); buf.putShort(fp) }
    var k = 0
    while (k < table.length) { buf.putShort(table(k)); k += 1 }
    buf.array()
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  val MaxLoadFactor = 0.955 // Fan et al. table 2, b=4
  val EmptySlot: Short = 0
  private[frontier] val Magic: Array[Byte] = "CKF1".getBytes(StandardCharsets.US_ASCII)

  @inline private def hash(url: String): Long =
    com.google.common.hash.Hashing.murmur3_128()
      .hashString(url, StandardCharsets.UTF_8).asLong()

  /** High 16 bits of the item hash; 0 is the empty-slot marker, remap to 1.
    * Independent of the index bits (low bits of the same 64-bit hash). */
  @inline private def fingerprint(h: Long): Short = {
    val fp = (h >>> 48).toShort
    if (fp == 0) 1.toShort else fp
  }

  /** Fingerprint mixer for the alternate index (MurmurHash3 finalizer —
    * any good integer mix works; must be fixed forever once states exist). */
  @inline private def mix(fp: Short): Int = {
    var x = (fp & 0xffff) * -0x61c88647
    x ^= x >>> 15
    x *= -0x7ee3623b
    x ^= x >>> 13
    x
  }

  /** One filter covers one SEEN-SET BUCKET (SeenSet.Config.expectedPerBucket,
    * ~2.4M at the 10^10/4096-bucket sizing), never the whole frontier —
    * the cap keeps the table a sane single-task payload (2^26 buckets =
    * 2^28 slots = 512 MiB) and guards the Int arithmetic; shard via
    * SeenSet.numBuckets to go bigger. */
  val MaxBuckets: Long = 1L << 26

  def create(expectedItems: Long): CuckooFilter = {
    val needBuckets =
      math.ceil(expectedItems / (SlotsPerBucket * MaxLoadFactor)).toLong.max(1L)
    require(needBuckets <= MaxBuckets,
      s"cuckoo filter sized for $expectedItems items needs $needBuckets buckets " +
      s"(max $MaxBuckets, ~${MaxBuckets * SlotsPerBucket} items); shard via SeenSet buckets")
    val p = java.lang.Long.highestOneBit(needBuckets)
    val numBuckets = (if (p >= needBuckets) p else p << 1).toInt
    new CuckooFilter(numBuckets, new Array[Short](numBuckets * SlotsPerBucket), 0L,
      scala.collection.mutable.ArrayBuffer.empty, expectedItems * 0x9e3779b97f4a7c15L)
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(java.util.Arrays.equals(magic, Magic), "not a cuckoo filter payload")
    val numBuckets = buf.getInt
    val count = buf.getLong
    val lcg = buf.getLong
    val nStash = buf.getInt
    val stash = scala.collection.mutable.ArrayBuffer.empty[(Int, Short)]
    var k = 0
    while (k < nStash) { stash += ((buf.getInt, buf.getShort)); k += 1 }
    val table = new Array[Short](numBuckets * SlotsPerBucket)
    k = 0
    while (k < table.length) { table(k) = buf.getShort; k += 1 }
    new CuckooFilter(numBuckets, table, count, stash, lcg)
  }

  def isCuckooPayload(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'K' && bytes(2) == 'F' && bytes(3) == '1'
}
