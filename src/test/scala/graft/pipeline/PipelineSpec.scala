package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Semantics tests for the training-data pipeline operators. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", 8)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // long, varied text: near-dup edits only perturb a few shingles
  private val base = (1 to 60).map(i => s"sentence$i word${i * 7 % 13} token${i * 3 % 11}").mkString(" ")

  test("exact dedup keeps min id per identical text") {
    val df = docs(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "aaa", 5L -> "ccc")
    val kept = Dedup.exactKeepMin(df, col("text"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L))
    val groups = Dedup.exactGroups(df, col("text"), "doc_id")
      .filter(col("n") > 1).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n") == 3 && groups(0).getAs[Long]("keeper") == 1)
  }

  test("minhash LSH finds identical and near-identical docs, not unrelated") {
    val near = base.replace("sentence7", "sentence999") // 1 of 180 words
    val unrelated = (1 to 60).map(i => s"other$i thing${i % 17} stuff${i % 19}").mkString(" ")
    val df = docs(1L -> base, 2L -> base, 3L -> near, 4L -> unrelated)
    val dups = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = dups.map(d => (d._1, d._2)).toSet
    assert(pairs.contains((1L, 2L)), s"identical docs not found: ${dups.mkString(",")}")
    assert(dups.find(d => d._1 == 1L && d._2 == 2L).get._3 == 1.0)
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "near-dup not found")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc matched")
  }

  test("sketch expressions are hash-exact vs the aggregate formulations") {
    import spark.implicits._
    // varied content incl. unicode, repeated tokens, punctuation, edge docs
    val texts = Seq(
      base, base.replace("sentence7", "sentence999"),
      "a b c d e f g", "one", "", "  \t\n ", "x " * 40,
      "MiXeD CaSe ÄÖÜ unicode tōkens €uro",
      (1 to 200).map(i => s"w${i % 23}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // minhash: expression == explode+agg, per id, all 24 minima
    val fast = Dedup.minhashSignatures(df, "doc_id", "text", 3, 24)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ref = ReferenceFormulations.minhashSignaturesAgg(df, "doc_id", "text", 3, 24)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ref.keySet.subsetOf(fast.keySet))
    for ((id, sig) <- ref) assert(fast(id) == sig, s"minhash sig mismatch doc $id")
    // simhash: equal wherever the agg formulation produces a row (it drops
    // token-less docs; the expression gives them sig 0)
    val fastSim = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refSim = ReferenceFormulations.simhashSignaturesAgg(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, sig) <- refSim) assert(fastSim(id) == sig, s"simhash sig mismatch doc $id")
    assert(fastSim(4L) == 0L && fastSim(5L) == 0L, "token-less docs -> sig 0")
    // hyperplane signature: expression == HOF-column formulation
    val dim = 16
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until dim).map(j => math.sin(i * 17 + j * 3).toFloat))).toDF("vec_id", "embedding")
    val fastH = vecs.select(col("vec_id"),
        Similarity.hyperplaneSignature(col("embedding"), 12, dim, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refH = vecs.select(col("vec_id"),
        ReferenceFormulations.hyperplaneSignatureHof(col("embedding"), 12, dim, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastH == refH, "hyperplane signature mismatch vs HOF formulation")
  }

  test("fused text_stats scan is exact vs the regex formulations") {
    import spark.implicits._
    val texts = Seq(
      base, "", "   ", "one", "The of AND to In; that's it!",
      "der und die das ist", "le la les et est", "el la los y es",
      "punct!!! ???,,, ... ::: ~~~", "a1b2c3 x_y the_of 123 9",
      "ÄÖÜ unicode tōkens €uro the of", "Die the le el und of")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def gather(c: org.apache.spark.sql.Column) =
      df.select(col("doc_id"), c.as("v")).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(gather(TextStats.tokenCount(col("text"))) == gather(ReferenceFormulations.tokenCountRegex(col("text"))), "tokens")
    assert(gather(TextStats.bpeishCount(col("text"))) == gather(ReferenceFormulations.bpeishCountRegex(col("text"))), "bpeish")
    assert(gather(TextStats.punctRatio(col("text"))) == gather(ReferenceFormulations.punctRatioRegex(col("text"))), "punct")
    assert(gather(TextStats.meanWordLen(col("text"))) == gather(ReferenceFormulations.meanWordLenRegex(col("text"))), "mwl")
    for ((words, i) <- ReferenceFormulations.stopwordsByLang.zipWithIndex) {
      val field = Seq("hits_en", "hits_de", "hits_fr", "hits_es")(i)
      assert(gather(TextStats.stats(col("text")).getField(field)) ==
        gather(ReferenceFormulations.stopwordHitsRegex(col("text"), words)), field)
    }
  }

  test("simhash: identical docs at hamming 0; near docs small hamming") {
    val near = base.replace("sentence7", "sentence999")
    val df = docs(1L -> base, 2L -> base, 3L -> near)
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 12)
    val dups = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.contains((1L, 2L)))
  }

  test("ngram jaccard: identical 1.0, disjoint 0.0") {
    val df = docs(1L -> "a b c d e f g", 2L -> "a b c d e f g", 3L -> "x y z w q r s")
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(df, pairs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("embedding near-dups and ANN top-k") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Seq[Float] = (0 until dim).map(i => math.sin(seed * 31 + i).toFloat)
    val rows = Seq(
      (0L, vec(1)), (1L, vec(1)), // identical pair
      (2L, vec(2)), (3L, vec(3)), (4L, vec(4)))
    val df = rows.toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDups(df, "vec_id", "embedding",
      threshold = 0.999, bands = 4, planesPerBand = 3, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.contains((0L, 1L)))

    val top = Similarity.bruteForceTopK(df.filter(col("vec_id") =!= 0), "vec_id", "embedding", vec(1), 2)
      .collect()
    assert(top(0).getLong(0) == 1L, "nearest to query must be its identical twin")
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-6)

    val lsh = Similarity.lshTopK(df.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      vec(1), 2, planes = 6, dim = dim)
      .collect()
    assert(lsh.nonEmpty && lsh(0).getLong(0) == 1L, "LSH must find the identical twin (same bucket)")
  }

  test("IVF ANN: full recall on a clustered corpus at nProbe=2; centroids partition-invariant") {
    import spark.implicits._
    // the regime IVF exists for: clustered data, where the quantizer
    // adapts and a few probed cells hold all true neighbors. 8 clusters x
    // 40 jittered members; the query sits in cluster 3, whose 10 nearest
    // members must ALL surface while probing only 2 of 16 cells.
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 8).flatMap { c =>
      (0 until 40).map { m =>
        val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq
        ((c * 40 + m).toLong, v)
      }
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val query = centers(3).map(_.toFloat).toSeq
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding", query, 10,
      nCells = 16, nProbe = 2, dim = dim)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == exact,
      s"IVF at nProbe=2/16 must achieve full recall on clustered data: got $ivf want $exact")
    // centroid training must be a pure function of the data SET: identical
    // under different partitionings (the fixed-point accumulation claim)
    val c1 = Similarity.trainIvf(corpus.repartition(1), "vec_id", "embedding", 16, dim)
    val c7 = Similarity.trainIvf(corpus.repartition(7), "vec_id", "embedding", 16, dim)
    assert(c1.length == c7.length &&
      c1.zip(c7).forall { case (a, b) => a.sameElements(b) },
      "centroids must be bit-identical across partitionings")
    // pre-trained overload gives the same result as the convenience path
    val viaPre = Similarity.ivfTopKWith(corpus, "vec_id", "embedding", query, 10,
      c1, nProbe = 2, dim = dim).collect().map(_.getLong(0)).toSet
    assert(viaPre == exact)
  }

  test("IVF persisted inverted lists: probe reads exactly nProbe cell dirs, same rows") {
    import spark.implicits._
    // same clustered fixture as the recall test: every cell non-empty
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 8).flatMap { c =>
      (0 until 40).map { m =>
        ((c * 40 + m).toLong, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
      }
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val query = centers(3).map(_.toFloat).toSeq
    val cents = Similarity.trainIvf(corpus, "vec_id", "embedding", 16, dim)
    val path = java.nio.file.Files.createTempDirectory("ivfspec").toString + "/index"
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", cents, dim, path)
    // round-trip: centroids survive the _centroids.json sidecar exactly
    val (rc, rdim) = Similarity.readIvfCentroids(spark, path)
    assert(rdim == dim && rc.length == cents.length &&
      rc.zip(cents).forall { case (a, b) => a.sameElements(b) },
      "centroid sidecar must round-trip bit-exact")
    val nProbe = 2
    val indexed = Similarity.ivfTopKIndexed(spark, path, "vec_id", "embedding",
      query, 10, nProbe)
    // THE SCALE CLAIM: the probe is a parquet PARTITION prune — exactly
    // nProbe of the occupied cell directories are read (same assertion
    // shape as the seen-set prune, SeenSetSpec)
    val totalCells = spark.read.parquet(path).select("__cell").distinct().count()
    val scan = indexed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val scanned = scan.selectedPartitions.partitionCount
    assert(scanned <= nProbe && scanned < totalCells,
      s"probe must read only its cells: scanned=$scanned nProbe=$nProbe total=$totalCells")
    // identical rows vs the assignment-recompute path over the same corpus
    val viaWith = Similarity.ivfTopKWith(corpus, "vec_id", "embedding", query, 10,
      cents, nProbe, dim).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIdx = indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIdx == viaWith, "persisted-index probe must return identical rows")
  }

  test("IVF edge cases: string ids, ragged/double vectors, short query — deterministic, no crash") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11)
    // string ids (a long cast would null them all out and de-randomize the
    // seed hash), one RAGGED short vector, double-typed elements
    val rows = (0 until 60).map { i =>
      val n = if (i == 13) dim - 3 else dim // ragged row
      (s"doc-$i", Array.fill(n)(rnd.nextGaussian()))
    }
    val corpus = rows.toDF("doc_id", "embedding")
    val c1 = Similarity.trainIvf(corpus.repartition(1), "doc_id", "embedding", 4, dim)
    val c5 = Similarity.trainIvf(corpus.repartition(5), "doc_id", "embedding", 4, dim)
    assert(c1.zip(c5).forall { case (a, b) => a.sameElements(b) },
      "string-id + ragged corpus must still train partition-invariant centroids")
    // a query SHORTER than dim must clamp, not crash (row side clamps too)
    val short = Seq.fill(dim - 2)(0.5f)
    val got = Similarity.ivfTopKWith(corpus, "doc_id", "embedding", short, 3,
      c1, nProbe = 4, dim = dim).collect()
    assert(got.length == 3)
    // vectors LONGER than dim must truncate, not crash the trainer
    val long = (0 until 20).map(i => (i.toLong, Array.fill(dim + 4)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cl = Similarity.trainIvf(long, "vec_id", "embedding", 2, dim)
    assert(cl.forall(_.length == dim))
  }

  test("text stats: token counts, langid, quality, fingerprint stability") {
    import spark.implicits._
    val en = "the cat sat of the mat and it was good for everyone involved " * 4
    val de = "der hund und die katze sind nicht mit dem auto von berlin zu haus " * 4
    val df = Seq((1L, en), (2L, de), (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("toks"),
        TextStats.langId(col("text")).as("lang"),
        TextStats.qualityScore(col("text")).as("q"),
        TextStats.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Int]("toks") == 13 * 4)
    assert(got(1L).getAs[String]("lang") == "en")
    assert(got(2L).getAs[String]("lang") == "de")
    assert(got(3L).getAs[Int]("toks") == 0)
    assert(got(1L).getAs[Double]("q") > got(3L).getAs[Double]("q"))
    // fingerprint: deterministic for equal text, different for different text
    val fp1 = df.filter(col("doc_id") === 1).select(TextStats.fingerprint(col("text"))).collect()(0).getLong(0)
    val same = Seq((9L, en)).toDF("doc_id", "text")
    val fpSame = same.select(TextStats.fingerprint(col("text"))).collect()(0).getLong(0)
    assert(fp1 == fpSame, "fingerprint must be deterministic")
    val other = Seq((10L, de)).toDF("doc_id", "text")
    val fpOther = other.select(TextStats.fingerprint(col("text"))).collect()(0).getLong(0)
    assert(fp1 != fpOther, "different docs should fingerprint differently")
  }

  test("real image decode: ImageIO round-trip reports true dimensions") {
    // decode is REAL (javax.imageio): dimensions must match the encoded PNG
    val (png, w, h) = Multimodal.syntheticPng(5L)
    val img = Multimodal.decodeImage(png)
    assert(img.isDefined, "a real PNG must decode")
    assert(img.get.getWidth == w && img.get.getHeight == h)
    val feats = Multimodal.gridLuminance(img.get)
    assert(feats.length == 16)
    assert(feats.forall(f => f >= 0.0f && f <= 1.0f))
    assert(feats.distinct.length > 1, "seeded pixels should vary across the grid")
    assert(Multimodal.decodeImage("not a png".getBytes).isEmpty)
  }

  test("multimodal resize + frame sampling plumbing") {
    val media = Multimodal.syntheticMedia(spark, 60L)
    val resized = Multimodal.resizeImages(spark, media, maxDim = 128).collect()
    assert(resized.nonEmpty)
    assert(resized.forall(r => math.max(r.target_w, r.target_h) <= 128))
    assert(resized.forall(r => r.target_w >= 1 && r.target_h >= 1))
    // decoded dims are the TRUE png dims (syntheticPng: 8+(i%16), 8+(i%12))
    assert(resized.forall(r =>
      r.width == 8 + (r.media_id % 16).toInt && r.height == 8 + (r.media_id % 12).toInt))
    // maxDim=128 > all dims: resize is identity-sized here
    assert(resized.forall(r => r.target_w == r.width && r.target_h == r.height))
    val small = Multimodal.resizeImages(spark, media, maxDim = 8).collect()
    assert(small.forall(r => math.max(r.target_w, r.target_h) == 8),
      "downscale must hit the bounding box")
    val frames = Multimodal.sampleFrames(spark, media, everyMs = 10000L).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_ts_ms % 10000L == 0))
    val perVideo = frames.groupBy(_.media_id)
    assert(perVideo.values.forall(fs => fs.map(_.frame_ts_ms).distinct.length == fs.length))
    // deterministic across runs
    val again = Multimodal.sampleFrames(spark, media, everyMs = 10000L).collect()
    assert(frames.map(f => (f.media_id, f.frame_ts_ms, f.frame_hash)).sortBy(x => (x._1, x._2))
      .sameElements(again.map(f => (f.media_id, f.frame_ts_ms, f.frame_hash)).sortBy(x => (x._1, x._2))))
  }

  test("multimodal feature plumbing: deterministic, null-safe") {
    val media = Multimodal.syntheticMedia(spark, 50L)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 50)
    assert(feats.forall(_.features.length == 16))
    assert(feats.forall(_.ok))
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.map(_.content_hash).sorted.sameElements(again.map(_.content_hash).sorted))
  }

  test("real audio decode: WAV round-trip reports true sample rate and duration") {
    // direct: a known synthetic WAV decodes to its generation parameters
    val (wav, sr, durMs) = Multimodal.syntheticWav(7L)
    val info = Multimodal.decodeAudio(wav).get
    assert(info.sampleRate == sr)
    assert(math.abs(info.durationMs - durMs) <= 1)
    assert(info.channels == 1)
    // windowed RMS of a sine with amplitude a is ~a/sqrt(2) in EVERY window
    val amp = 0.25 + 0.05 * (7 % 5)
    val expect = (amp / math.sqrt(2)).toFloat
    assert(info.features.length == 16)
    assert(info.features.forall(f => math.abs(f - expect) < 0.05f),
      s"expected ~$expect per window: ${info.features.mkString(",")}")
    // undecodable bytes -> None (never a crash)
    assert(Multimodal.decodeAudio(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(Multimodal.decodeAudio(null).isEmpty)
    // through the Spark path: every audio row reports its true parameters
    val media = Multimodal.syntheticMedia(spark, 30L)
    val feats = Multimodal.extractFeatures(spark, media).collect().filter(_.kind == "audio")
    assert(feats.nonEmpty && feats.forall(_.ok))
    for (f <- feats) {
      val (_, esr, edur) = Multimodal.syntheticWav(f.media_id)
      assert(f.sample_rate == esr, s"media ${f.media_id}")
      assert(math.abs(f.duration_ms - edur) <= 1, s"media ${f.media_id}")
    }
  }

  test("audio decode streams in bounded chunks: multi-MB clip == in-memory reference") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    // ~10.6 MB: 120 s of 44.1 kHz mono 16-bit with a slow AM envelope so
    // every RMS window differs (catches any window-boundary drift)
    val sr = 44100
    val n = sr * 120
    val pcm = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val env = 0.2 + 0.15 * math.sin(2 * math.Pi * k / n)
      val s = (32767 * env * math.sin(2 * math.Pi * 440.0 * k / sr)).toInt.toShort
      pcm(2 * k) = (s & 0xff).toByte
      pcm(2 * k + 1) = ((s >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    assert(wav.length > (8 << 20), s"fixture must be multi-MB: ${wav.length}")
    // in-memory reference: the pre-r4 readAllBytes formulation, inline
    val refFeats = {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
      val data = in.readAllBytes()
      val sumSq = new Array[Double](16); val cnt = new Array[Long](16)
      var fr = 0
      while (fr < n) {
        val w = (fr.toLong * 16L / n).toInt
        val s = (((data(2 * fr + 1) << 8) | (data(2 * fr) & 0xff)).toShort) / 32768.0
        sumSq(w) += s * s; cnt(w) += 1; fr += 1
      }
      Array.tabulate(16)(w => if (cnt(w) == 0) 0.0f else math.sqrt(sumSq(w) / cnt(w)).toFloat)
    }
    val got = Multimodal.decodeAudio(wav).get
    assert(got.sampleRate == sr && math.abs(got.durationMs - 120000L) <= 1)
    assert(got.features.toSeq == refFeats.toSeq,
      s"streamed features differ from in-memory reference")
    // features genuinely vary across windows (the sine envelope is
    // mirror-symmetric, so 16 windows collapse to 8 distinct RMS values)
    assert(got.features.distinct.length >= 8)
    // byte cap: features come from the sub-cap prefix; duration stays TRUE
    // (derived from the container frame count, not bytes read)
    val capped = Multimodal.decodeAudio(wav, maxBytes = 1L << 20).get
    assert(capped.durationMs == got.durationMs, "cap must not corrupt duration")
    assert(capped.features.exists(_ > 0f) && capped.features.toSeq != got.features.toSeq)
  }

  test("truncated audio container: features cover the REAL audio, duration = delivered frames") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    val sr = 8000
    val n = sr * 2 // 2s declared
    def pcmOf(frames: Int): Array[Byte] = {
      val d = new Array[Byte](frames * 2)
      var k = 0
      while (k < frames) {
        val s = (20000 * math.sin(2 * math.Pi * 440.0 * k / sr) *
                 (0.3 + 0.7 * k.toDouble / n)).toInt.toShort // rising envelope
        d(2 * k) = (s & 0xff).toByte; d(2 * k + 1) = ((s >> 8) & 0xff).toByte
        k += 1
      }
      d
    }
    def wavOf(frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new ByteArrayInputStream(pcmOf(frames)), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val full = wavOf(n)
    // truncate the PAYLOAD at half — the header still declares 2s
    val half = n / 2
    val headerLen = full.length - n * 2
    val truncated = java.util.Arrays.copyOf(full, headerLen + half * 2)
    val got = Multimodal.decodeAudio(truncated).get
    // reference: a COMPLETE clip holding exactly the delivered audio
    val ref = Multimodal.decodeAudio(wavOf(half)).get
    assert(got.durationMs == ref.durationMs,
      s"duration must report delivered frames: ${got.durationMs} vs ${ref.durationMs}")
    assert(got.features.toSeq == ref.features.toSeq,
      "features must cover the real audio exactly (no empty trailing windows)")
    assert(got.features.forall(_ > 0f), "all 16 windows must hold real signal")
  }

  test("AU clip of unknown data size decodes like the same clip with a declared size") {
    import javax.sound.sampled.AudioSystem
    import java.io.ByteArrayInputStream
    val sr = 8000
    val ch = 2
    val n = sr * 3 / 2 // 1.5 s
    // Sun AU: big-endian header (magic, data offset, data size, encoding 3
    // = 16-bit linear PCM, sample rate, channels), then big-endian samples
    def au(dataSize: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24 + n * ch * 2)
      b.putInt(0x2e736e64).putInt(24).putInt(dataSize).putInt(3).putInt(sr).putInt(ch)
      for (k <- 0 until n; c <- 0 until ch)
        b.putShort((18000 * math.sin(2 * math.Pi * (330.0 + 110 * c) * k / sr) *
          (0.2 + 0.8 * k.toDouble / n)).toInt.toShort) // rising envelope
      b.array()
    }
    val unknown = au(0xffffffff)
    val declared = au(n * ch * 2)
    def frameLength(bytes: Array[Byte]) =
      AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes)).getFrameLength
    assert(frameLength(unknown) == -1L, "the header must declare no frame length")
    assert(frameLength(declared) == n.toLong)
    val got = Multimodal.decodeAudio(unknown).get
    val ref = Multimodal.decodeAudio(declared).get
    assert(ref.sampleRate == sr && ref.channels == ch && ref.durationMs == 1500L)
    assert(got.sampleRate == ref.sampleRate && got.channels == ref.channels)
    assert(got.durationMs == ref.durationMs, s"duration ${got.durationMs} vs ${ref.durationMs}")
    assert(got.features.length == 16 && got.features.toSeq == ref.features.toSeq,
      s"features ${got.features.mkString(",")} vs ${ref.features.mkString(",")}")
    assert(got.features.distinct.length == 16, "every window must hold its own signal")
  }

  // ---- LSH hot-bucket bounding (VERDICT r2 #3) -------------------------------

  test("simhash hot-bucket sub-banding loses no recall: all-hot == all-cold pairs") {
    // force EVERY bucket down the refinement path (threshold 1) and compare
    // with the pure cold path (huge threshold): the pigeonhole argument says
    // the final pair sets are identical
    val near = base.replace("sentence7", "sentence999")
    val far = (1 to 60).map(i => s"zzz$i qqq${i % 5} vvv${i % 3}").mkString(" ")
    val df = docs((1L -> base) +: (2L -> base) +: (3L -> near) +: (4L -> far) +:
      (10 to 40).map(i => i.toLong -> s"$base extra${i} filler${i * 13 % 7}"): _*)
    def pairs(t: Int) = Dedup.simhashNearDups(df, "doc_id", "text",
        maxHamming = 3, hotBucketThreshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(1) == pairs(Int.MaxValue))
    assert(pairs(1).exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("simhash degenerate bucket: candidate volume bounded, no false pairs") {
    import spark.implicits._
    // adversarial: 5,000 signatures IDENTICAL in band 0 (low 16 bits) but
    // pseudo-random in the remaining 48 bits — one degenerate (band,bucket)
    // that the unbounded plan would turn into 12.5M candidate pairs
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val n = 5000
    val sigs = (1 to n).map { i =>
      (i.toLong, (mix(i.toLong) << 16) | 0xABCDL)
    }.toDF("id", "sig")
    val cands = Dedup.simhashCandidatePairs(sigs, maxHamming = 3, hotBucketThreshold = 1000)
    val nCands = cands.count()
    // uniform 12-bit sub-buckets over 4 sub-bands: expected pairs per
    // sub-band ~ C(n,2)/4096 ~ 3k; assert well under 1% of the 12.5M
    // quadratic blowup. (Other bands' buckets are 16-bit-random: tiny.)
    assert(nCands < 125000, s"candidate pairs not bounded: $nCands")
    // and the verified output finds no false near-dups (the random sigs
    // are all far apart in hamming)
    val verified = cands
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.functions.bit_count(
          col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= 3).count()
    assert(verified == 0)
  }

  test("group-local cosine kernel is BIT-identical to the SQL cosine expression") {
    import spark.implicits._
    // the hot-path verify computes cosine in Scala (Dedup.cosineDot/
    // cosineNormSq/cosineFromDot) so only survivors leave the task; hot
    // and cold survivors of the same pair must dedup via distinct(), which
    // requires bit-equal doubles — pin the kernel against the SQL
    // expression on ragged/negative/zero/denormal-ish inputs
    val rnd = new scala.util.Random(3)
    val rows = (0 until 200).map { i =>
      val n = 8 + (i % 5)
      (i.toLong,
       Array.fill(n)((rnd.nextGaussian() * (if (i % 7 == 0) 1e-5 else 10)).toFloat),
       Array.fill(n)(rnd.nextGaussian().toFloat))
    } :+ ((200L, Array.fill(8)(0.0f), Array.fill(8)(1.0f))) // zero norm
    val sql = rows.toDF("i", "a", "b")
      .select(col("i"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((i, a, b) <- rows) {
      val got = Dedup.cosineFromDot(Dedup.cosineDot(a, b),
        Dedup.cosineNormSq(a), Dedup.cosineNormSq(b))
      assert(java.lang.Double.doubleToLongBits(got) ==
             java.lang.Double.doubleToLongBits(sql(i)),
        s"row $i: kernel $got != sql ${sql(i)}")
    }
  }

  test("hotDocs fires the sub-banding NATURALLY at the default 4096 threshold, recall-lossless") {
    import spark.implicits._
    // 8k docs, 4500-doc boilerplate cluster: the cluster shares one simhash
    // band by construction (two dominant tokens agreeing on all 16 band-0
    // bits), so a (band,bucket) group exceeds the DEFAULT threshold with no
    // forced spec knobs — the exact regime VERDICT r4 #1 asked to see live
    val docs = graft.data.SyntheticCorpus.hotDocs(spark, 42L, 8000L, 4500L, 8)
      .persist()
    val (hot, maxGrp) = Dedup.simhashHotStats(docs, "doc_id", "text")
    assert(hot >= 1 && maxGrp > 4096,
      s"cluster must make a band bucket naturally hot: hot=$hot max=$maxGrp")
    val viaHot = Dedup.simhashNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall-lossless claim vs the unbounded cold plan at the same corpus
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text").filter(col("sig") =!= 0L)
    val viaCold = Dedup.simhashCandidatePairs(sigs, maxHamming = 3,
        hotBucketThreshold = Int.MaxValue)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct().filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    docs.unpersist()
    assert(viaHot == viaCold,
      s"sub-banding must lose no recall: hot=${viaHot.size} cold=${viaCold.size}")
    // embedding twin: 70k vectors make every 4-plane band bucket hot by
    // volume alone; the planted pairs must survive the refinement planes
    val emb = graft.data.SyntheticCorpus.hotEmbeddings(spark, 42L, 70000L, 16, 8, 8)
      .persist()
    val (eHot, eMax) = Dedup.embeddingHotStats(emb, "vec_id", "embedding", dim = 16)
    assert(eHot >= 1 && eMax > 4096, s"volume must make buckets hot: $eHot/$eMax")
    val found = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        threshold = 0.99, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    emb.unpersist()
    val expect = (0 until 8).map(j => (j.toLong, 70000L + j)).toSet
    assert(expect.subsetOf(found),
      s"planted near-identical pairs must survive the hot-bucket refinement: missing ${expect -- found}")
  }

  test("simhash near-dups: zero-token documents never pair (blank-heavy corpora)") {
    val df = docs(1L -> "", 2L -> "   \t\n ", 3L -> "", 4L -> base, 5L -> base)
    val dups = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((4L, 5L)), s"blank docs must not pair: $dups")
  }

  test("embedding hot-bucket refinement still finds planted near-identical pairs") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Seq[Float] = (0 until dim).map(i => math.sin(seed * 31 + i).toFloat)
    val baseRows = (1 to 200).map(i => (i.toLong, vec(i)))
    // plant twins of every 10th vector under tiny multiplicative noise
    val twins = (1 to 200).filter(_ % 10 == 0).map { i =>
      (1000L + i, vec(i).zipWithIndex.map { case (x, j) => x * (1.0f + 0.001f * (j % 5 - 2)) }.toSeq)
    }
    val df = (baseRows ++ twins).toDF("vec_id", "embedding")
    def found(t: Int) = Dedup.embeddingNearDups(df, "vec_id", "embedding",
        threshold = 0.999, bands = 8, planesPerBand = 8, dim = dim,
        hotBucketThreshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cold = found(Int.MaxValue)
    val hot = found(1) // every bucket forced through the refinement path
    val planted = (1 to 200).filter(_ % 10 == 0).map(i => (i.toLong, 1000L + i)).toSet
    assert(planted.subsetOf(cold), s"cold path lost planted pairs: ${planted -- cold}")
    assert(planted.subsetOf(hot), s"refinement path lost planted pairs: ${planted -- hot}")
  }

  test("embedding near-dups: double-typed vectors survive the group-local tiers (r5 advisory)") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Seq[Double] = (0 until dim).map(i => math.sin(seed * 31 + i))
    val baseRows = (1 to 120).map(i => (i.toLong, vec(i)))
    val twins = (1 to 120).filter(_ % 10 == 0).map { i =>
      (1000L + i, vec(i).zipWithIndex.map { case (x, j) => x * (1.0 + 0.001 * (j % 5 - 2)) }.toSeq)
    }
    val nullId = 5000L
    val df = (baseRows ++ twins :+ ((nullId, null: Seq[Double]))).toDF("vec_id", "embedding")
    // brute-force reference: every pair, Similarity.cosine over array<double>
    val ref = df.toDF("id_a", "v_a").crossJoin(df.toDF("id_b", "v_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def found(hotT: Int) = Dedup.embeddingNearDups(df, "vec_id", "embedding",
        threshold = 0.999, bands = 8, planesPerBand = 4, dim = dim,
        hotBucketThreshold = hotT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // every group verified whole on DOUBLE vectors: same pairs, bit-equal
    // cosines as the SQL expression
    val cold = found(Int.MaxValue)
    assert(cold == ref, s"double-vector verify diverged: ${cold.size} vs ${ref.size}")
    // hot: refinement planes + group-local verify on double vectors
    val hot = found(2)
    val planted = (1 to 120).filter(_ % 10 == 0).map(i => (i.toLong, 1000L + i)).toSet
    val hotPairs = hot.map(t => (t._1, t._2))
    assert(hot.subsetOf(ref) && planted.subsetOf(hotPairs),
      s"double-vector hot groups lost planted pairs: ${planted -- hotPairs}")
    assert(!(cold ++ hot).exists(p => p._1 == nullId || p._2 == nullId),
      "a null embedding must never pair")
  }

  test("simhash and embedding near-dups: no Spark job before the action, no cache left after it") {
    import spark.implicits._
    // hot band buckets (threshold 4 over 200 rows): the whole plan,
    // sub-banding and refinement included, must be built without a job
    val text = spark.range(0, 200).select(col("id").as("doc_id"),
      concat_ws(" ", lit(base), (col("id") % 7).cast("string")).as("text"))
    val vecs = spark.range(0, 200).select(col("id").as("vec_id"),
      transform(array((0 until 8).map(i => lit(i.toFloat)): _*),
        (x, i) => sin(x + (col("id") % 5).cast("float") * 0.001f + i).cast("float")).as("embedding"))
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val (frames, buildJobs) = graft.SparkJobs.during(spark)(Seq(
      Dedup.simhashNearDups(text, "doc_id", "text", hotBucketThreshold = 4),
      Dedup.embeddingNearDups(vecs, "vec_id", "embedding", threshold = 0.99, dim = 8,
        hotBucketThreshold = 4)))
    assert(buildJobs == 0, s"building the near-dup frames launched $buildJobs Spark job(s)")
    assert(frames.forall(_.collect().nonEmpty))
    val leaked = sc.getPersistentRDDs.keySet.filterNot(cachedBefore)
    assert(leaked.isEmpty, s"near-dup queries left ${leaked.size} persisted RDD(s): $leaked")
  }
}
