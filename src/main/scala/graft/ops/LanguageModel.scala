package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.Pins

/** Corpus-trained n-gram language-model scoring — the CCNet-style
  * quality signal: documents whose token transitions are unlike the
  * corpus (boilerplate, gibberish, wrong-language fragments) score a
  * high mean negative log-likelihood and can be filtered or bucketed.
  *
  * Everything is DataFrame-shaped for scale: bigram/context counts
  * are map-side-combined aggregates over exploded bigram rows (the
  * shuffle carries (w1, w2, count) partials, never documents), the
  * vocabulary size is one scalar aggregate, and scoring joins each
  * document's bigram instances against the count tables by key. No
  * UDFs; the per-row token work is native HOF expressions.
  */
object LanguageModel {

  /** Tokens per the library convention (lowercase, trim, whitespace
    * split; empty text → empty array). */
  private def toks(textCol: Column): Column =
    when(length(trim(textCol)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(lower(textCol)), "\\s+"))

  /** Mean negative log-likelihood per document under an add-α bigram
    * model trained on the whole input:
    *
    *   P(w2|w1) = (c(w1,w2) + α) / (c(w1·) + α·V)
    *   nll(d)   = −(1/|bigrams(d)|) Σ ln P(w2|w1)
    *
    * c(w1·) counts BIGRAM STARTS (not raw unigrams — no off-by-one at
    * document ends), V is the distinct-token vocabulary. Documents
    * with < 2 tokens have no bigrams: n_bigrams = 0, nll = 0.0.
    * Output: (doc_id, n_bigrams, nll). */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
                alpha: Double = 0.1): DataFrame = {
    // pinned: feeds the bigram explode AND the vocab count
    val withToks = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("t")).pin
    // per-document DISTINCT bigram counts: every downstream join and
    // the per-doc aggregate ride this deduplicated frame instead of
    // the raw instance rows (r17, guide §2.3 "aggregate before you
    // shuffle" — the instance frame was previously shuffled three
    // more times: by (w1,w2), by w1, and by doc_id)
    val docBigram = withToks
      .select(col("doc_id"), explode(
          graft.functions.BpeFunctions.adjacentPairs(col("t"))).as("b"))
      .groupBy(col("doc_id"), col("b.left").as("w1"), col("b.right").as("w2"))
      .agg(count(lit(1)).as("k"))
      .pin // feeds the global bigram counts AND the scoring join
    // The global count tables are POST-AGGREGATE and vocabulary-scale
    // (distinct corpus bigrams / distinct bigram starts) — broadcast
    // them so the scoring joins probe docBigram in place instead of
    // shuffling it twice more (r18, guide §3.1; Spark can't estimate
    // a pinned aggregate's size, so without the hint both joins went
    // sort-merge).
    val bigramCounts = broadcast(docBigram.groupBy(col("w1"), col("w2"))
      .agg(sum(col("k")).as("cb")))
    // c(w1·) = Σ_w2 c(w1,w2): derived from the bigram counts —
    // vocabulary-scale input — instead of a fourth corpus-scale pass
    val startCounts = broadcast(bigramCounts.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cs")))
    val vocab = withToks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val scoredInst = docBigram
      .join(bigramCounts, Seq("w1", "w2"))
      .join(startCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log((col("cb") + alpha) /
        (col("cs") + lit(alpha) * col("v"))))
    // n_bigrams = Σk (instance count); nll = −Σ(k·lp)/Σk — the same
    // mean over instances, accumulated per distinct bigram
    val perDoc = scoredInst.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        (-sum(col("k") * col("lp")) / sum(col("k"))).as("nll"))
    // documents with no bigrams re-enter with (0, 0.0)
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll"), lit(0.0)).as("nll"))
  }
}
