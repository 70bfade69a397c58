package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plain-SQL formulations of the sketch expressions, kept as differential
  * references: same results as the one-pass expressions, several times the
  * cost. */
object ReferenceFormulations {

  /** The explode + hash-aggregate formulation of
    * [[Dedup.minhashSignatures]] (map-side combine, one shuffle keyed by
    * id). */
  def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, numHashes: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(array_distinct(Dedup.shingles(col(textCol), shingleK))).as("s"))
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
}
