package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as a
  * shuffle-lean Spark plan:
  *
  *  - exact: one hash-shuffle on the content hash (map-side partial agg)
  *  - minhash LSH: shingle -> minhash signature -> banded bucket join; the
  *    O(n²) pair space collapses to within-bucket pairs
  *  - simhash: 64-bit signature, near-dups via banded equality (hamming<=k
  *    implies some band equal — pigeonhole), then exact hamming verify
  *  - n-gram jaccard: exact verification on LSH candidates only
  *  - embedding cosine: random-hyperplane LSH buckets, within-bucket verify
  *
  * All signatures are computed with seeded splitmix64 mixes of xxhash64 —
  * deterministic across runs and cluster sizes, no java Random.
  */
object Dedup {

  /** Exact dedup: keep the row with min(idCol) per identical `key`.
    * One shuffle; partial aggregation happens map-side. */
  def exactKeepMin(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val keyed = df.withColumn("__k", xxhash64(key))
    val keepers = keyed.groupBy(col("__k")).agg(min(col(idCol)).as(idCol))
    keyed.join(keepers, Seq("__k", idCol), "left_semi").drop("__k")
  }

  /** Exact-dup group stats: (group key hash, group size, keeper id). */
  def exactGroups(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(xxhash64(key).as("content_hash"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  private def bridge(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)
  private def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)

  /** Distinct k-shingle hashes as a column (one-pass custom expression). */
  def shingleHashes(text: Column, k: Int): Column =
    bridge(graft.sql.ShingleHashesExpr(bridge(text), k))

  /** MinHash signatures as (id, sig array<long>): ONE expression pass per
    * document — no shingle rows materialize or shuffle, no per-seed
    * aggregate columns. Hash-exact vs the explode + aggregate formulation
    * kept in test scope (differential-tested), so LSH buckets are
    * unchanged. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      bridge(graft.sql.MinhashSigsExpr(bridge(col(textCol)), shingleK, numHashes)).as("sig"))

  /** Candidate near-dup pairs via banded MinHash LSH.
    * numHashes = bands * rowsPerBand. Output: (id_a, id_b) with id_a<id_b,
    * distinct. Only within-bucket pairs are generated (band value join).
    *
    * Hot-bucket machinery is DELIBERATELY absent here (unlike simhash's
    * 16-bit bands and the embedding LSH's 4-bit bands): a band bucket is
    * xxhash64 over 4 minhash values — a 64-bit space that cannot
    * volume-collide at any corpus size. Groups grow only when documents'
    * shingle sets actually coincide (jaccard ≈ 1), and those pairs ARE
    * the required output. Pipeline contract: run [[exactKeepMin]] first
    * so byte-identical duplicates never reach the LSH stage. Measured
    * (r5 probe): a 6k near-boilerplate cluster (shared 16-token template
    * + 10 random tokens) in 20k docs yields 1.4M candidates with a max
    * band group of 1,657 — the template cluster SPREADS because minhash
    * keys on shingle content, not volume. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 5, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = minhashSignatures(df, idCol, textCol, shingleK, numHashes)
    val bandCols = (0 until bands).map { b =>
      xxhash64(concat_ws(",",
        transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), _.cast("string"))))
    }
    val banded = sigs.select(col("id"), posexplode(array(bandCols: _*)))
      .toDF("id", "band", "bucket")
    val a = banded.toDF("id_a", "band", "bucket")
    val b = banded.toDF("id_b", "band", "bucket")
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard similarity for given pairs (verification stage).
    * pairs: (id_a, id_b); returns pairs + jaccard. Shingle sets travel as
    * 8-byte hash arrays, not strings — intersection/union sizes are equal
    * modulo 64-bit collisions, and the join payload shrinks ~4x. */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, idCol: String,
                   textCol: String, n: Int = 5): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
    pairs
      .join(sh.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(sh.toDF("id_b", "sh_b"), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter").cast("double") / col("uni").cast("double")).otherwise(0.0))
      .select("id_a", "id_b", "jaccard")
  }

  /** Full MinHash near-dup pipeline: LSH candidates -> exact jaccard >= τ. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, shingleK: Int = 5,
                      bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleK, bands, rowsPerBand)
    ngramJaccard(df, pairs, idCol, textCol, shingleK).filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash signatures as (id, sig): ONE expression pass per
    * document (term-frequency-weighted bit votes over token hashes).
    * Hash-exact vs the explode + 64-vote aggregate formulation kept in test
    * scope for non-empty documents; an all-whitespace document gets sig 0
    * here (the aggregate formulation drops it — no token rows to group). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      bridge(graft.sql.SimhashSigExpr(bridge(col(textCol)))).as("sig"))

  /** SimHash near-dup pairs with hamming distance <= maxHamming, found by
    * banding the 64-bit signature into (maxHamming+1) chunks (pigeonhole:
    * any pair within distance k agrees on at least one of k+1 bands).
    *
    * Zero-token documents (sig 0 — every empty/whitespace-only doc) are
    * filtered before banding: on a blank-heavy web corpus they would all
    * collide in every band at hamming 0 and emit N(N-1)/2 pairs. This
    * restores the drop semantics of the aggregate formulation.
    *
    * Hot (band,bucket) groups — 16-bit band buckets do NOT survive 10^10
    * rows — are sub-banded: see [[simhashCandidatePairs]]. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      hotBucketThreshold: Int = 4096): DataFrame = {
    val sigs = simhashSignatures(df, idCol, textCol).filter(col("sig") =!= 0L)
    // hamming filter BEFORE the pair distinct: a random band collision
    // almost always fails the <=k check, so filtering first drops most
    // candidate rows before they shuffle; filter-then-distinct ==
    // distinct-then-filter for a row-wise predicate
    simhashCandidatePairs(sigs, maxHamming, hotBucketThreshold)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Candidate pairs from banded simhash signatures, with BOUNDED bucket
    * blowup. sigs: (id: long/any, sig: long). Pairs sharing several band
    * buckets (or sub-buckets) appear once per shared key.
    *
    * Buckets with more than `hotBucketThreshold` members are refined by
    * sub-banding the REMAINING 48 bits (the signature with the matched
    * band's bits compacted out) into another (maxHamming+1) chunks. This
    * is pigeonhole again, so it loses NO recall: a pair at hamming <= k
    * that fully agrees on band b has all its differing bits in the
    * remaining bits, and among k+1 sub-chunks of those at least one is
    * clean. Candidate volume in a degenerate bucket of m rows drops from
    * m^2/2 to the sub-bucket histogram's pair sum (~m^2/2^subBits per
    * sub-band, uniform case); truly identical signatures still pair
    * quadratically — those are true duplicates, the correct output. One
    * refinement level bounds the (band,bucket,sub,subbucket) key space at
    * 2^16 * (k+1)^2 * 2^12 ~ 4.3e9 keys for k=3 — enough for the 10^10-row
    * design point (deeper recursion is the same construction if ever
    * needed). Cold buckets keep one fixed (sub, subbucket), so their pairs
    * are exactly the plain banded self-join's. */
  def simhashCandidatePairs(sigs: DataFrame, maxHamming: Int,
                            hotBucketThreshold: Int): DataFrame = {
    val nBands = maxHamming + 1
    val subBits = math.max(1, (64 - 64 / nBands) / nBands)
    val banded = simhashBanded(sigs, maxHamming)
    val subBuckets = (0 until nBands).map { j =>
      shiftrightunsigned(col("rem"), j * subBits).bitwiseAND(lit((1L << subBits) - 1))
    }
    val rows = withHotGroups(banded, hotBucketThreshold)
      .select(col("id"), col("sig"), col("band"), col("bucket"),
        posexplode(when(col("n").isNotNull, array(subBuckets: _*)).otherwise(array(lit(0L)))))
      .toDF("id", "sig", "band", "bucket", "sub", "subbucket")
      // both self-join sides then read this one shuffle, so the signatures
      // and the histogram are computed once, not once per side
      .repartition(col("band"), col("bucket"), col("sub"), col("subbucket"))
    rows.toDF("id_a", "sig_a", "band", "bucket", "sub", "subbucket")
      .join(rows.toDF("id_b", "sig_b", "band", "bucket", "sub", "subbucket"),
            Seq("band", "bucket", "sub", "subbucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b")
  }

  /** (id, sig, band, bucket, rem): one row per simhash band. `bucket` is
    * the band's 64/(maxHamming+1) bits; `rem` is the signature with them
    * compacted out, where the <=maxHamming differing bits of any true
    * within-bucket pair live. */
  private def simhashBanded(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val bandStructs = (0 until nBands).map { b =>
      val bucket = shiftrightunsigned(col("sig"), b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1))
      val low = if (b == 0) lit(0L)
                else col("sig").bitwiseAND(lit((1L << (b * bandBits)) - 1))
      val high = if (b == nBands - 1) lit(0L)
                 else shiftleft(shiftrightunsigned(col("sig"), (b + 1) * bandBits), b * bandBits)
      struct(bucket.as("bucket"), low.bitwiseOR(high).as("rem"))
    }
    sigs.select(col("id"), col("sig"), posexplode(array(bandStructs: _*)))
      .select(col("id"), col("sig"), col("pos").as("band"),
              col("col.bucket").as("bucket"), col("col.rem").as("rem"))
  }

  /** (band, bucket, n): rows per LSH band bucket. */
  private def bandHistogram(banded: DataFrame): DataFrame =
    banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))

  /** `banded` plus column n: its group's size when the group holds more
    * than `threshold` rows, else null. The histogram is joined in, never
    * collected, so the plan has no driver-side branch. */
  private def withHotGroups(banded: DataFrame, threshold: Int): DataFrame =
    banded.join(bandHistogram(banded).filter(col("n") > threshold),
      Seq("band", "bucket"), "left")

  private def hotStats(banded: DataFrame, threshold: Int): (Long, Long) = {
    val r = bandHistogram(banded).agg(
      sum(when(col("n") > threshold, 1L).otherwise(0L)), max(col("n"))).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Diagnostic: (hot (band,bucket) groups, max group size) of the simhash
    * band histogram at the given threshold — the SAME banding as
    * [[simhashNearDups]]. The bench records this next to the dedup timing
    * as evidence that the hot-bucket sub-banding fired NATURALLY (non-zero
    * hot groups), not just under forced spec thresholds. */
  def simhashHotStats(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      hotBucketThreshold: Int = 4096): (Long, Long) =
    hotStats(simhashBanded(simhashSignatures(df, idCol, textCol).filter(col("sig") =!= 0L),
      maxHamming), hotBucketThreshold)

  /** Diagnostic twin of [[simhashHotStats]] for the embedding LSH banding
    * of [[embeddingNearDups]]. */
  def embeddingHotStats(df: DataFrame, idCol: String, vecCol: String,
                        bands: Int = 8, planesPerBand: Int = 4,
                        dim: Int = 64, seed: Long = 42L,
                        hotBucketThreshold: Int = 4096): (Long, Long) =
    hotStats(embeddingBanded(df, idCol, vecCol, bands, planesPerBand, dim, seed),
      hotBucketThreshold)

  /** (id, v, band, bucket): one row per LSH band, each with its own
    * `planesPerBand` seeded hyperplanes. Null vectors have no bucket and
    * are dropped. */
  private def embeddingBanded(df: DataFrame, idCol: String, vecCol: String, bands: Int,
                              planesPerBand: Int, dim: Int, seed: Long): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      Similarity.hyperplaneSignature(col(vecCol), planesPerBand, dim,
        seed + 0x51ED2701L * (b + 1))
    }
    df.select(col(idCol).as("id"), col(vecCol).as("v"), posexplode(array(bandCols: _*)))
      .toDF("id", "v", "band", "bucket")
      .filter(col("bucket").isNotNull)
  }

  /** Extra hyperplane sign bits that split a hot embedding band bucket. */
  private val RefinePlanes = 8

  /** Embedding cosine near-dup via MULTI-BAND random-hyperplane LSH:
    * `bands` independent signatures of `planesPerBand` sign bits each; a
    * pair is a candidate if it collides in ANY band. A single wide
    * signature requires ALL bits to agree — P(all planes)^1 — so recall
    * collapses near the threshold; banding lifts it to
    * 1-(1-p^planesPerBand)^bands. Candidates are exact-cosine verified.
    *
    * The vectors ride the banding explode, and every (band,bucket) group
    * is verified group-locally ([[groupLocalVerify]]): pairs are in-task
    * compute and only survivors (cosine >= threshold) leave the task.
    *
    * Hot groups (more than `hotBucketThreshold` rows) are split by 8 extra
    * hyperplane sign bits (an independent seed no band uses): a 16-bit
    * band over 10^10 rows averages ~1.5e5 rows per bucket even unskewed.
    * Unlike simhash sub-banding this is NOT recall-free: a true pair inside
    * a hot bucket must also agree on the refinement planes — P(agree) =
    * (1 - theta/pi)^8, e.g. ~0.96 at cosine 0.99 — but the pair is still
    * found through any of its OTHER colliding bands, so the end-to-end
    * recall loss is bounded by (1 - p^k) on the (rare) all-bands-hot case.
    * Cold groups are verified whole. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, bands: Int = 8,
                        planesPerBand: Int = 4,
                        dim: Int = 64, seed: Long = 42L,
                        hotBucketThreshold: Int = 4096): DataFrame = {
    val banded = embeddingBanded(df, idCol, vecCol, bands, planesPerBand, dim, seed)
    val refine = Similarity.hyperplaneSignature(col("v"), RefinePlanes, dim,
      seed ^ 0x6A09E667F3BCC909L)
    val rows = withHotGroups(banded, hotBucketThreshold)
      .select(col("id"), col("v"), col("band"), col("bucket"),
        when(col("n").isNotNull, refine).otherwise(lit(0L)).as("refine"))
    // a pair sharing several groups survives once per group
    groupLocalVerify(rows, threshold).distinct()
  }

  /** SQL-`<`-compatible ordering for id values (long/int/string cover the
    * pipeline's id columns). */
  private def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: Int, y: Int)       => x < y
    case (x: String, y: String) => x < y
    case (x: java.lang.Number, y: java.lang.Number) => x.doubleValue < y.doubleValue
    case _ => String.valueOf(a) < String.valueOf(b)
  }

  /** Cosine with EXACTLY [[Similarity.cosine]]'s IEEE op order — zip_with
    * multiplies floats in float precision, aggregate widens each product
    * to double for the running sum, norms square in float and accumulate
    * in double, n = sqrt(na)*sqrt(nb), 0.0 when n == 0. Differential spec
    * pins bit-equality. normSq precomputed per row (it is per-vector). */
  private[pipeline] def cosineNormSq(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }
  private[pipeline] def cosineFromDot(dot: Double, nsqA: Double, nsqB: Double): Double = {
    val n = math.sqrt(nsqA) * math.sqrt(nsqB)
    if (n > 0) dot / n else 0.0
  }
  private[pipeline] def cosineDot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  /** Double twins: Similarity.cosine on array<double> multiplies and
    * accumulates in double throughout — same sequential op order. */
  private[pipeline] def cosineNormSqD(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }
  private[pipeline] def cosineDotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Verify pairs INSIDE each (band,bucket,refine) group: emit
    * (id_a, id_b, cosine) for same-group pairs with cosine >= threshold,
    * id_a < id_b. Input columns: (id, v, band, bucket, refine). A
    * double-typed vector column is read as doubles and verified with the
    * double kernel (bit-matching Similarity.cosine on array<double>).
    * A group materializes only its ROWS (linear); the pair iterator is
    * lazy. */
  private def groupLocalVerify(rows: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idType = rows.schema("id").dataType
    val isDouble = rows.schema("v").dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("cosine", DoubleType)))
    // group key as a primitive tuple, not a concatenated string: the key
    // is built once per banded row, so a string alloc+hash shows up in
    // the profile at bench scale
    implicit val keyEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    implicit val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val (iId, iV, iB, iK, iR) = (0, 1, 2, 3, 4)
    rows.groupByKey(r => (r.getInt(iB), r.getLong(iK), r.getLong(iR)))
      .flatMapGroups { (_, it) =>
        val grp = it.toArray
        val ids = new Array[Any](grp.length)
        val vs = new Array[Array[Float]](grp.length)
        val vds = new Array[Array[Double]](grp.length)
        val nsq = new Array[Double](grp.length)
        var i = 0
        while (i < grp.length) {
          ids(i) = grp(i).get(iId)
          if (isDouble) {
            vds(i) = grp(i).getSeq[Double](iV).toArray
            nsq(i) = cosineNormSqD(vds(i))
          } else {
            vs(i) = grp(i).getSeq[Float](iV).toArray
            nsq(i) = cosineNormSq(vs(i))
          }
          i += 1
        }
        def vecLen(j: Int): Int = if (isDouble) vds(j).length else vs(j).length
        def pairCos(a: Int, b: Int): Double =
          if (isDouble) cosineFromDot(cosineDotD(vds(a), vds(b)), nsq(a), nsq(b))
          else cosineFromDot(cosineDot(vs(a), vs(b)), nsq(a), nsq(b))
        new Iterator[Row] {
          private var a = 0
          private var b = 1
          private var nextRow: Row = null
          private def advance(): Unit = {
            nextRow = null
            while (nextRow == null && a < grp.length - 1) {
              // ragged pair -> zip_with would null-pad and the cosine
              // would be null -> dropped; skip to match
              if (vecLen(a) == vecLen(b) && ids(a) != ids(b)) {
                val c = pairCos(a, b)
                if (c >= threshold) {
                  val (x, y) = if (idLt(ids(a), ids(b))) (ids(a), ids(b)) else (ids(b), ids(a))
                  nextRow = Row(x, y, c)
                }
              }
              b += 1
              if (b >= grp.length) { a += 1; b = a + 1 }
            }
          }
          advance()
          def hasNext: Boolean = nextRow != null
          def next(): Row = { val r = nextRow; advance(); r }
        }
      }.toDF("id_a", "id_b", "cosine")
  }
}
