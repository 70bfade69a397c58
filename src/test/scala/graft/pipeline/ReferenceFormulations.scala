package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plain-SQL formulations of the sketch and text-stat expressions, kept as
  * differential references: same results as the one-pass expressions,
  * several times the cost. */
object ReferenceFormulations {

  /** The explode + hash-aggregate formulation of
    * [[Dedup.minhashSignatures]] (map-side combine, one shuffle keyed by
    * id). */
  /** Word shingles of size k as an array column, or one shingle of all
    * tokens when there are fewer than k. */
  def shingles(text: Column, k: Int): Column = {
    val toks = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, numHashes: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), shingleK))).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
    val seeds = (0 until numHashes).map(i => 0x9E3779B97F4A7C15L * (i + 1))
    val aggs = seeds.zipWithIndex.map { case (s, i) =>
      min(xxhash64(col("h").bitwiseXOR(lit(s)))).as(s"m$i")
    }
    exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Explode + 64-vote aggregate formulation of
    * [[Dedup.simhashSignatures]]; drops token-less documents. */
  def simhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val aggs = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L)).as(s"v$b")
    }
    val votes = exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))
    votes.select(col("id"), sig.as("sig"))
  }

  /** Higher-order-function column formulation of
    * [[Similarity.hyperplaneSignature]]. */
  def hyperplaneSignatureHof(vec: Column, planes: Int, dim: Int, seed: Long): Column = {
    val bits = (0 until planes).map { p =>
      val plane = array((0 until dim).map(i => lit(Similarity.planeComponent(p, i, seed))): _*)
      when(Similarity.dot(vec, plane) >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---- regex-column twins of the fused TextStats scan ----------------------

  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  def bpeishCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  def punctRatioRegex(text: Column): Column = {
    val nonSpace = length(regexp_replace(text, "\\s+", ""))
    val punct = length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", ""))
    when(nonSpace > 0, punct.cast("double") / nonSpace.cast("double")).otherwise(0.0)
  }

  def meanWordLenRegex(text: Column): Column = {
    val toks = tokenCountRegex(text)
    when(toks > 0,
      length(regexp_replace(text, "\\s+", "")).cast("double") / toks.cast("double"))
      .otherwise(0.0)
  }

  val stopwordsByLang: Seq[Seq[String]] = Seq(
    graft.sql.TextStatsExpr.stopwordsEn, graft.sql.TextStatsExpr.stopwordsDe,
    graft.sql.TextStatsExpr.stopwordsFr, graft.sql.TextStatsExpr.stopwordsEs)

  def stopwordHitsRegex(text: Column, words: Seq[String]): Column = {
    val pattern = words.mkString("(?i)\\b(", "|", ")\\b")
    size(regexp_extract_all(text, lit(pattern), lit(0)))
  }
}
