package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline.
  *
  * All counters come from ONE fused code-point scan per document
  * (graft.sql.TextStatsExpr) instead of a regex pass per signal — JDK
  * Pattern evaluation dominated these queries (the quality query ran 4-5
  * regex passes per doc). The scan replicates the Java-regex semantics of
  * the original column formulations exactly; the `*Regex` twins below are
  * kept as the differential-test reference.
  */
object TextStats {

  private def bridge(c: Column) = org.apache.spark.sql.GraftColumnBridge.expression(c)
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnBridge.column(e)

  /** The fused one-pass counter struct (chars, nonspace, tokens, bpeish,
    * punct, hits_en/de/fr/es). */
  def stats(text: Column): Column = col(graft.sql.TextStatsExpr(bridge(text)))

  /** Whitespace token count (regex-\S+ runs; robust to empty/blank). */
  def tokenCount(text: Column): Column = stats(text).getField("tokens")

  /** BPE-ish subword count: word pieces + digits + punctuation singletons
    * (the common pre-tokenizer regex family, GPT-2 style simplified). */
  def bpeishCount(text: Column): Column = stats(text).getField("bpeish")

  def charCount(text: Column): Column = length(text)

  /** Punctuation ratio: punctuation chars / non-space chars. */
  def punctRatio(text: Column): Column = {
    val st = stats(text)
    val nonSpace = st.getField("nonspace")
    when(nonSpace > 0,
      st.getField("punct").cast("double") / nonSpace.cast("double")).otherwise(0.0)
  }

  /** Mean word length (quality signal; garbage text skews high or low). */
  def meanWordLen(text: Column): Column = {
    val st = stats(text)
    val toks = st.getField("tokens")
    when(toks > 0,
      st.getField("nonspace").cast("double") / toks.cast("double")).otherwise(0.0)
  }

  /** Composite quality score in [0,1]: length band + stopword presence +
    * sane punctuation + sane word length. One scan per document. */
  def qualityScore(text: Column): Column = {
    val st = stats(text)
    val chars = st.getField("chars")
    val toks = st.getField("tokens")
    val nonspace = st.getField("nonspace")
    val stopRatio = when(toks > 0,
      st.getField("hits_en").cast("double") / toks.cast("double")).otherwise(0.0)
    val pRatio = when(nonspace > 0,
      st.getField("punct").cast("double") / nonspace.cast("double")).otherwise(0.0)
    val mwl = when(toks > 0,
      nonspace.cast("double") / toks.cast("double")).otherwise(0.0)
    val lenScore = when(chars.between(200, 50000), 1.0)
      .when(chars.between(50, 199), 0.5).otherwise(0.0)
    val stopScore = when(stopRatio >= 0.05, 1.0)
      .when(stopRatio >= 0.02, 0.5).otherwise(0.0)
    val punctScore = when(pRatio <= 0.2, 1.0)
      .when(pRatio <= 0.4, 0.5).otherwise(0.0)
    val wordScore = when(mwl.between(3.0, 12.0), 1.0).otherwise(0.0)
    (lenScore + stopScore + punctScore + wordScore) / 4.0
  }

  /** N-gram-heuristic language ID over {en,de,fr,es}: winner by stopword
    * hit count, "und"/"der" vs "the"/"of" style. Unknown -> "und". */
  def langId(text: Column): Column = {
    val st = stats(text)
    val en = st.getField("hits_en")
    val de = st.getField("hits_de")
    val fr = st.getField("hits_fr")
    val es = st.getField("hits_es")
    val m = greatest(en, de, fr, es)
    when(m === lit(0), "und")
      .when(en === m, "en").when(de === m, "de")
      .when(fr === m, "fr").otherwise("es")
  }

  /** Document fingerprint: mix of the 8 smallest 5-gram token hashes
    * (winnowing-style robust fingerprint). A custom one-pass Catalyst
    * expression: the HOF-column formulation re-ran the tokenizer per gram
    * (quadratic interpreted eval, 43s at sf0.1 vs <2s now). */
  def fingerprint(text: Column): Column =
    col(graft.sql.Fingerprint64Expr(bridge(text)))
}
