package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import graft.data.SyntheticCorpus
import graft.pipeline.Dedup

/** The dedup stage of the `pipeline` workload: `minhashNearDups`,
  * `simhashNearDups` and `embeddingNearDups` on generated inputs.
  *
  *  - text: `SyntheticCorpus.hotDocs` (a near-boilerplate cluster that
  *    makes one simhash band bucket hot, plus unique-token documents) and
  *    planted families: each family is a 120-token document and copies of
  *    it with one pair of adjacent tokens swapped, so members are minhash
  *    near-duplicates (5-shingle Jaccard >= 0.81) with equal simhashes.
  *  - vectors: `SyntheticCorpus.hotEmbeddings`, enough rows that every
  *    4-plane band bucket is hot by volume, with planted near-identical
  *    pairs.
  *
  * One pass runs the three families. Every reported pair is re-verified with this file's own exact Jaccard, Hamming and cosine
  * code; recall is the share of planted pairs (those that pass the
  * family's threshold by the exact code) that the family reports. */
final class DedupStage(ctx: Ctx) extends Stage {
  import ctx.spark
  import spark.implicits._
  import Main.time

  private val seed = ctx.seed
  private val hotN = (4800 * ctx.scale).toLong
  private val clusterN = hotN / 4
  private val families = math.max(4, (240 * ctx.scale).toInt)
  private val familySize = 4
  private val familyTokens = 120
  private val vecN = (18000 * ctx.scale).toLong
  private val dim = 32
  private val plantedVecs = 50
  private val jaccardMin = 0.8
  private val hammingMax = 3
  private val cosineMin = 0.99
  private val shingleK = 5
  /** Band-bucket size above which simhash sub-bands and the embedding LSH
    * refines. The cluster (1,200 documents) and the vector count (18,000
    * over 16 buckets per band) both exceed it, so both hot paths run; it
    * scales with the inputs so smaller instances take the same paths. */
  private val hotThreshold = math.max(64, (1024 * ctx.scale).toInt)

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private lazy val texts: Map[Long, String] =
    docs.select("doc_id", "text").as[(Long, String)].collect().toMap
  private lazy val vectors: Map[Long, Array[Float]] =
    vecs.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap

  /** Planted families: ids from `hotN` on, `familySize` consecutive ids each. */
  private def planted(): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until families).flatMap { f =>
      val base = Vector.fill(familyTokens)("t" + rnd.nextInt(1000000))
      (0 until familySize).map { m =>
        val toks = if (m == 0) base else {
          val i = rnd.nextInt(familyTokens - 1)
          base.updated(i, base(i + 1)).updated(i + 1, base(i))
        }
        (hotN + f * familySize + m, toks.mkString(" "))
      }
    }
  }

  def setup(): SetupCost = {
    if (docs != null) { docs.unpersist(true); vecs.unpersist(true) }
    val t0 = System.nanoTime()
    docs = SyntheticCorpus.hotDocs(spark, seed, hotN, clusterN, ctx.cores)
      .unionByName(planted().toDF("doc_id", "text")).repartition(ctx.cores).persist()
    docs.count()
    vecs = SyntheticCorpus.hotEmbeddings(spark, seed, vecN, dim, plantedVecs, ctx.cores).persist()
    vecs.count()
    val s = (System.nanoTime() - t0) / 1e9
    SetupCost(s, s, 0.0)
  }

  private def minhash(): Array[(Long, Long, Double)] =
    Dedup.minhashNearDups(docs, "doc_id", "text", jaccardMin, shingleK)
      .as[(Long, Long, Double)].collect()
  private def simhash(): Array[(Long, Long, Int)] =
    Dedup.simhashNearDups(docs, "doc_id", "text", hammingMax, hotThreshold)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int")).as[(Long, Long, Int)].collect()
  private def embedding(): Array[(Long, Long, Double)] =
    Dedup.embeddingNearDups(vecs, "vec_id", "embedding", cosineMin, dim = dim,
      hotBucketThreshold = hotThreshold)
      .as[(Long, Long, Double)].collect()

  /** The last pass's pairs per family. */
  private var last: (Array[(Long, Long, Double)], Array[(Long, Long, Int)], Array[(Long, Long, Double)]) = _

  def run(phase: Phase): Unit = {
    def fam[A](name: String)(f: => A): A = {
      val (r, s) = time(ctx.tracer.span(name)(f))
      phase.sample(name, s)
      phase.timedSeconds += s
      phase.attempted += 1
      r
    }
    last = ctx.tracer.span("dedup") {
      (fam("minhash")(minhash()), fam("simhash")(simhash()), fam("embedding")(embedding()))
    }
    phase.items += 2L * texts.size + vectors.size
    verify(phase, last._1, last._2, last._3)
  }

  // ---- the benchmark's own exact similarity code ----------------------------

  private def tokens(t: String): Array[String] = t.toLowerCase.split("[ \t\n\u000b\f\r]+").filter(_.nonEmpty)

  private def shingles(t: String): Set[String] = {
    val ts = tokens(t)
    if (ts.length < shingleK) Set(ts.mkString(" "))
    else ts.sliding(shingleK).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y)
    val uni = x.size + y.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  /** 64-bit SimHash: per-token (with repeats) xxhash64 (seed 42) bit votes. */
  private def simhashOf(t: String): Long = {
    val votes = new Array[Int](64)
    for (tok <- tokens(t)) {
      val b = tok.getBytes("UTF-8")
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      var i = 0
      while (i < 64) { votes(i) += (if (((h >>> i) & 1L) != 0L) 1 else -1); i += 1 }
    }
    (0 until 64).foldLeft(0L)((s, i) => if (votes(i) > 0) s | (1L << i) else s)
  }
  private lazy val sigs: Map[Long, Long] = texts.map { case (id, t) => id -> simhashOf(t) }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Planted pairs that pass each family's threshold by the exact code. */
  private lazy val plantedPairs: (Set[(Long, Long)], Set[(Long, Long)], Set[(Long, Long)]) = {
    val fam = (0 until families).flatMap { f =>
      val ids = (0 until familySize).map(m => hotN + f * familySize + m)
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }
    (fam.filter { case (a, b) => jaccard(texts(a), texts(b)) >= jaccardMin }.toSet,
     fam.filter { case (a, b) => java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= hammingMax }.toSet,
     (0 until plantedVecs).map(j => (j.toLong, vecN + j))
       .filter { case (a, b) => cosine(vectors(a), vectors(b)) >= cosineMin }.toSet)
  }

  private def verify(phase: Phase, mh: Seq[(Long, Long, Double)], sh: Seq[(Long, Long, Int)],
                     em: Seq[(Long, Long, Double)]): Unit = {
    for ((a, b, j) <- mh) {
      val exact = jaccard(texts(a), texts(b))
      phase.check(exact >= jaccardMin && math.abs(exact - j) < 1e-9,
        s"minhash pair ($a,$b): reported jaccard $j, exact $exact")
    }
    for ((a, b, h) <- sh) {
      val exact = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
      phase.check(exact <= hammingMax && exact == h, s"simhash pair ($a,$b): reported $h, exact $exact")
    }
    for ((a, b, c) <- em) {
      val exact = cosine(vectors(a), vectors(b))
      phase.check(exact >= cosineMin - 1e-9 && math.abs(exact - c) < 1e-6,
        s"embedding pair ($a,$b): reported cosine $c, exact $exact")
    }
    for ((name, pairs) <- Seq("minhash" -> mh.map(p => (p._1, p._2)), "simhash" -> sh.map(p => (p._1, p._2)),
                              "embedding" -> em.map(p => (p._1, p._2))))
      phase.check(pairs.distinct.size == pairs.size, s"$name reported a pair twice")
  }

  private def recall(planted: Set[(Long, Long)], found: Seq[(Long, Long)]): Double = {
    val f = found.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    if (planted.isEmpty) 1.0 else planted.count(f).toDouble / planted.size
  }

  def layers(phase: Phase): Unit = {
    val l = phase.layers
    val items = Map("minhash" -> texts.size.toDouble, "simhash" -> texts.size.toDouble,
      "embedding" -> vectors.size.toDouble)
    for ((f, _) <- items; ss = phase.samples(f).toSeq) {
      l(s"pipeline.$f.s") = Agg.median(ss)
      l(s"pipeline.$f.items_per_s") = items(f) / Agg.median(ss)
    }
    val (pm, ps, pe) = plantedPairs
    l("pipeline.minhash.pairs") = last._1.length
    l("pipeline.simhash.pairs") = last._2.length
    l("pipeline.embedding.pairs") = last._3.length
    l("pipeline.minhash.recall") = recall(pm, last._1.map(p => (p._1, p._2)))
    l("pipeline.simhash.recall") = recall(ps, last._2.map(p => (p._1, p._2)))
    l("pipeline.embedding.recall") = recall(pe, last._3.map(p => (p._1, p._2)))
    l("pipeline.simhash.hot_groups") = Dedup.simhashHotStats(docs, "doc_id", "text", hammingMax, hotThreshold)._1
    l("pipeline.embedding.hot_groups") = Dedup.embeddingHotStats(vecs, "vec_id", "embedding", dim = dim,
      hotBucketThreshold = hotThreshold)._1

    // candidate pairs each family's banding emits before verification
    val (lsh, lshS) = time(ctx.tracer.span("minhash.lsh") {
      val p = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleK).persist()
      l("pipeline.minhash.candidates") = p.count()
      p
    })
    val (_, verifyS) = time(ctx.tracer.span("minhash.verify")(
      Dedup.ngramJaccard(docs, lsh, "doc_id", "text", shingleK)
        .filter(col("jaccard") >= jaccardMin).count()))
    lsh.unpersist()
    l("pipeline.minhash.lsh_s") = lshS
    l("pipeline.minhash.verify_s") = verifyS
    l("pipeline.simhash.candidates") = Dedup.simhashCandidatePairs(
      Dedup.simhashSignatures(docs, "doc_id", "text").filter(col("sig") =!= 0L), hammingMax, hotThreshold).count()
    val bandCols = (0 until 8).map(b => graft.pipeline.Similarity.hyperplaneSignature(
      col("embedding"), 4, dim, 42L + 0x51ED2701L * (b + 1)))
    l("pipeline.embedding.candidates") = vecs.select(posexplode(array(bandCols: _*)))
      .groupBy("pos", "col").count()
      .select(sum(col("count") * (col("count") - 1) / 2)).as[Double].head()
  }

  def close(): Unit = if (docs != null) { docs.unpersist(); vecs.unpersist() }
}
