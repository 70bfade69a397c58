package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** hyperplane_sig(vec: array<float|double>) -> long: sign bits of `planes`
  * seeded hyperplanes against a precomputed plane matrix — one tight loop
  * per row instead of planes literal-array HOF folds. */
case class HyperplaneSigExpr(child: Expression, planes: Int, dim: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<float|double>")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  @transient private lazy val planeMat: Array[Double] = {
    val m = new Array[Double](planes * dim)
    var p = 0
    while (p < planes) {
      var i = 0
      while (i < dim) { m(p * dim + i) = Similarity.planeComponent(p, i, seed); i += 1 }
      p += 1
    }
    m
  }
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    var sig = 0L
    var p = 0
    while (p < planes) {
      val off = p * dim
      var acc = 0.0
      var i = 0
      if (isFloat) while (i < n) { acc += arr.getFloat(i).toDouble * planeMat(off + i); i += 1 }
      else while (i < n) { acc += arr.getDouble(i) * planeMat(off + i); i += 1 }
      if (acc >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** nearest_cell(vec: array<float|double>) -> int: argmax dot product
  * against a flattened (nCells x dim) centroid matrix — the IVF coarse
  * quantizer assignment, one tight loop per row. Ties break to the lowest
  * cell index (deterministic). */
case class NearestCellExpr(child: Expression, flatCentroids: Array[Double],
                           nCells: Int, dim: Int)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<float|double>")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < nCells) {
      val off = c * dim
      var acc = 0.0
      var i = 0
      if (isFloat) while (i < n) { acc += arr.getFloat(i).toDouble * flatCentroids(off + i); i += 1 }
      else while (i < n) { acc += arr.getDouble(i) * flatCentroids(off + i); i += 1 }
      if (acc > bestDot) { bestDot = acc; best = c }
      c += 1
    }
    best
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — one scan, no shuffle except the
  * final top-k (orderBy + limit is a distributed TakeOrdered, not a full
  * sort). Scale path: random-hyperplane LSH buckets so each query probes
  * one bucket (plus neighbors) instead of the full corpus.
  * Dot products via `functions.aggregate`/`zip_with` (codegen'd, no UDF).
  */
object Similarity {

  /** Dot product of two array<float/double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(0.0)
  }

  /** Deterministic pseudo-random hyperplane component (plane p, dim i). */
  private[pipeline] def planeComponent(p: Int, i: Int, seed: Long): Double = {
    var x = seed ^ (p.toLong * 0x9E3779B97F4A7C15L) ^ (i.toLong * 0xBF58476D1CE4E5B9L)
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x = x ^ (x >>> 31)
    // map to [-1, 1)
    (x >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  /** Sign-bit signature of `planes` seeded hyperplanes (as a long).
    * A custom expression with a precomputed plane matrix: the equivalent
    * higher-order-function column (per-plane literal array + zip_with +
    * aggregate) walks Catalyst's interpreted eval per element — ~100x
    * slower for planes*dim multiply-adds. Bit math is identical
    * (sequential double fold, float->double per element), so signatures —
    * and every LSH bucket/oracle downstream — are unchanged; the HOF
    * formulation is kept in test scope as the differential reference. */
  def hyperplaneSignature(vec: Column, planes: Int, dim: Int, seed: Long): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      HyperplaneSigExpr(org.apache.spark.sql.GraftColumnBridge.expression(vec),
        planes, dim, seed))

  /** Brute-force cosine top-k for one query vector. Deterministic
    * tie-break on id. Plan: scan -> project cosine -> TakeOrdered(k). */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    corpus.select(col(idCol), cosine(col(vecCol), qArr).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- IVF (inverted-file) ANN -----------------------------------------

  /** Train the IVF coarse quantizer: k-means centroids that are a PURE
    * FUNCTION OF THE DATA SET — identical under any partitioning/core
    * count (oracle-exact), which standard kmeans|| is not (it tree-
    * aggregates floats in partition order):
    *  - init: the vectors whose ids have the nCells smallest xxhash64
    *    values (deterministic, data-dependent spread);
    *  - assignment: nearest centroid by dot product on L2-normalized
    *    centroids (= cosine for any input scale);
    *  - update: per-dimension FIXED-POINT accumulation — each component
    *    rounds to a 2^20-scaled Long before the sum, and INTEGER addition
    *    is associative+commutative, so the aggregation order Spark picks
    *    cannot change the centroid (the ~1e-6 quantization is irrelevant
    *    to a coarse quantizer). One shuffle per iteration
    *    (posexplode -> groupBy(cell, dim) -> sum), centroid matrix on the
    *    driver (nCells x dim doubles — tiny).
    * At the 100 TB design point: train on a sample (the quantizer needs
    * distribution shape, not every row), then one assignment pass writes
    * the bucketed table partitioned by cell ([[writeIvfIndex]]) — per-query
    * probes then read nProbe cell directories only ([[ivfTopKIndexed]],
    * partition-prune asserted in PipelineSpec). */
  def trainIvf(corpus: DataFrame, idCol: String, vecCol: String,
               nCells: Int, dim: Int, iters: Int = 4): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val Scale = 1L << 20
    // deterministic seed rows: nCells smallest xxhash64(id) — hashing the
    // id column AS ITS OWN TYPE (a long cast would null out string ids and
    // collapse every hash to xxhash64(null)); string tiebreak for the
    // (practically impossible) hash collision. array<double> embeddings
    // are first-class: everything trains in doubles.
    var centroids: Array[Array[Double]] = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("__h", xxhash64(col("id")))
      .orderBy(col("__h"), col("id").cast("string")).limit(nCells)
      .select("v").as[Seq[Double]].collect()
      .map(v => normalized(v.toArray, dim))
    var it = 0
    while (it < iters) {
      val assigned = corpus.select(
        nearestCell(col(vecCol), centroids, dim).as("__cell"),
        posexplode(col(vecCol)))
        .filter(col("pos") < dim && col("col").isNotNull) // clamp like the expr
        .select(col("__cell"), col("pos"),
          (col("col").cast("double") * Scale).cast("long").as("fx"))
      val sums = assigned.groupBy("__cell", "pos")
        .agg(sum("fx").as("s"), count(lit(1)).as("n"))
        .collect()
      // per-DIMENSION mean: each component divides by its own count, so
      // ragged/short vectors stay deterministic under any collect() order
      // (a per-cell count picked from "whichever pos row came last" would
      // be partition-dependent)
      val acc = Array.fill(centroids.length)(new Array[Double](dim))
      val cnt = Array.fill(centroids.length)(new Array[Long](dim))
      for (r <- sums) {
        val c = r.getInt(0); val p = r.getInt(1)
        acc(c)(p) = r.getLong(2).toDouble / Scale
        cnt(c)(p) = r.getLong(3)
      }
      centroids = centroids.indices.map { c =>
        if (cnt(c).forall(_ == 0)) centroids(c) // empty cell keeps its centroid
        else normalized(
          Array.tabulate(dim)(p => if (cnt(c)(p) == 0) 0.0 else acc(c)(p) / cnt(c)(p)), dim)
      }.toArray
      it += 1
    }
    centroids
  }

  private def normalized(v: Array[Double], dim: Int): Array[Double] = {
    val out = java.util.Arrays.copyOf(v, dim)
    var s = 0.0
    var i = 0
    while (i < dim) { s += out(i) * out(i); i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < dim) { out(i) /= n; i += 1 } }
    out
  }

  /** argmax-dot cell assignment column over a centroid matrix. */
  private[pipeline] def nearestCell(vec: Column, centroids: Array[Array[Double]],
                                    dim: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NearestCellExpr(org.apache.spark.sql.GraftColumnBridge.expression(vec),
        centroids.flatten, centroids.length, dim))

  /** IVF ANN top-k: train the quantizer, assign the corpus to inverted
    * lists, probe the nProbe cells nearest the query, exact-rank inside.
    * vs [[lshTopK]]: centroids ADAPT to the data (hyperplanes are
    * data-oblivious), so list sizes stay balanced where data is dense and
    * recall per probed row is higher on clustered corpora. Plan per
    * query: cell filter -> cosine project -> TakeOrdered(k). */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nCells: Int = 16, nProbe: Int = 4,
              dim: Int = 64, iters: Int = 4): DataFrame =
    ivfTopKWith(corpus, idCol, vecCol, query, k,
      trainIvf(corpus, idCol, vecCol, nCells, dim, iters), nProbe, dim)

  /** [[ivfTopK]] against PRE-TRAINED centroids. Still recomputes the
    * assignment column over the full corpus per call — for a query stream
    * use [[writeIvfIndex]] once + [[ivfTopKIndexed]] per query (pruned
    * directory reads, no recompute). The convenience overload above
    * additionally trains per call (re-scans the corpus ~iters+2 times) —
    * fine for one ad-hoc query, wasteful for anything else. */
  def ivfTopKWith(corpus: DataFrame, idCol: String, vecCol: String,
                  query: Seq[Float], k: Int, centroids: Array[Array[Double]],
                  nProbe: Int, dim: Int): DataFrame = {
    val bucketed = corpus.withColumn("__cell", nearestCell(col(vecCol), centroids, dim))
    // query-side cell ranking on the driver, same math as the expression
    val qd = query.map(_.toDouble).toArray
    val probes = centroids.indices
      .map(c => (c, dotArr(qd, centroids(c))))
      .sortBy { case (c, d) => (-d, c) }
      .take(nProbe).map(_._1)
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    bucketed.filter(col("__cell").isin(probes.map(Int.box): _*))
      .select(col(idCol), cosine(col(vecCol), qArr).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist the IVF INVERTED LISTS: one assignment pass writes the corpus
    * `partitionBy("__cell")` — the scale shape the quantizer exists for.
    * Each cell becomes a parquet directory, so a probe reads exactly its
    * nProbe cell directories (a PARTITION filter, asserted in
    * PipelineSpec) instead of recomputing the assignment column over the
    * full corpus per query (the [[ivfTopKWith]] convenience shape). The
    * centroid matrix rides along as `_centroids.json` inside the index
    * dir — underscore-prefixed files are invisible to parquet readers, so
    * the index is self-contained (same trick as Spark's _SUCCESS). At the
    * 100 TB design point this is the same layout as the seen table's
    * partitionBy("bucket") compaction: assignment cost is paid once per
    * corpus version, probes are directory-pruned I/O. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], dim: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    corpus.withColumn("__cell", nearestCell(col(vecCol), centroids, dim))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__cell").parquet(path)
    val json = s"""{"dim":$dim,"centroids":[${
      centroids.map(_.mkString("[", ",", "]")).mkString(",")}]}"""
    val p = new org.apache.hadoop.fs.Path(path, "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a persisted index's centroid matrix (written by
    * [[writeIvfIndex]]). */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): (Array[Array[Double]], Int) = {
    val p = new org.apache.hadoop.fs.Path(path, "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString("UTF-8")
    } finally in.close()
    val dim = json.substring(json.indexOf("\"dim\":") + 6).takeWhile(_.isDigit).toInt
    val body = json.substring(json.indexOf("[[") + 2, json.lastIndexOf("]]"))
    val centroids = body.split("\\],\\[").map(_.split(',').map(_.toDouble))
    (centroids, dim)
  }

  /** Top-k against a PERSISTED inverted-list index: rank cells on the
    * driver, read ONLY the nProbe cell directories (partition prune),
    * exact-rank inside. Same results as [[ivfTopKWith]] over the corpus
    * the index was built from — the only difference is the plan: a pruned
    * scan instead of a full scan + assignment recompute. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     idCol: String, vecCol: String,
                     query: Seq[Float], k: Int, nProbe: Int): DataFrame = {
    val (centroids, dim) = readIvfCentroids(spark, indexPath)
    val qd = query.map(_.toDouble).toArray
    val probes = centroids.indices
      .map(c => (c, dotArr(qd, centroids(c))))
      .sortBy { case (c, d) => (-d, c) }
      .take(nProbe).map(_._1)
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    spark.read.parquet(indexPath)
      .filter(col("__cell").isin(probes.map(Int.box): _*))
      .select(col(idCol), cosine(col(vecCol), qArr).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length) // clamp like the row-side expr
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** LSH-bucketed ANN: probe the query's bucket plus all 1-bit-flip
    * neighbor buckets (multi-probe), then exact-rank within candidates.
    * At corpus scale the bucketed table is precomputed/persisted once. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, planes: Int = 12,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    val bucketed = corpus.withColumn("__sig",
      hyperplaneSignature(col(vecCol), planes, dim, seed))
    // compute the query signature on the driver with the same math
    val qsig = (0 until planes).map { p =>
      val d = (0 until dim).map(i => query(i).toDouble * planeComponent(p, i, seed)).sum
      if (d >= 0) 1L << p else 0L
    }.reduce(_ | _)
    val probes = qsig +: (0 until planes).map(b => qsig ^ (1L << b))
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    bucketed.filter(col("__sig").isin(probes.map(Long.box): _*))
      .select(col(idCol), cosine(col(vecCol), qArr).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
