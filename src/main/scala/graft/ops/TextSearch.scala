package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 relevance scoring — corpus search for curation pipelines
  * ("find the docs most about X", "rank crawl pages against a topic
  * probe"). The reference has no text-retrieval surface; this is the
  * builder's-brief corpus-search shape.
  *
  * Plan shape, chosen for 100 TB: the query-term set is BOUNDED (a
  * handful of probe terms), so instead of the textbook explode →
  * inverted-postings shuffle, each document computes its per-term
  * frequencies in ONE narrow projection (the token array lambda-binds
  * through a one-element `transform` so the text splits once per row,
  * not once per term), and the corpus statistics the formula needs
  * (N, Σdl, per-term df) reduce in ONE global aggregate whose single
  * row broadcasts back. Total cost: one scan + one k-row broadcast —
  * no shuffle proportional to tokens, no UDFs, everything codegen'd.
  */
object TextSearch {

  /** Per-document BM25 score against `terms`. Output: the input's id
    * column (aliased `doc_id`) + `bm25` (double). Tokenization is the
    * library convention: lowercase, trim, split on whitespace runs.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the
    * Robertson/Sparck-Jones form; terms sum left-to-right in the
    * given order (keeps cross-engine FP comparison exact). */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(split(trim(lower(col(textCol))), "\\s+"))
    // lambda-bind the token array so the split evaluates ONCE per row:
    // an expression referenced from several filter() bodies re-evaluates
    // per use (the tokenWindowLines lesson), a lambda variable does not
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        element_at(transform(array(toks), t => {
          // `t` is the bound token array; rebuild the struct against it
          struct(
            size(t).as("dl") +:
              terms.zipWithIndex.map { case (tm, i) =>
                size(filter(t, w => w === lit(tm))).as(s"tf$i")
              }: _*)
        }), 1).as("f"))
      .select(col("doc_id") +: (col("f.dl").as("dl") +:
        terms.indices.map(i => col(s"f.tf$i").as(s"tf$i"))): _*)
    val aggCols = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(aggCols.head, aggCols.tail: _*)
    val scoredInput = perDoc.crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5))
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    scoredInput.select(col("doc_id"), score.as("bm25"))
  }

  /** Reciprocal-rank fusion of N rankings (Cormack et al. 2009) — the
    * standard hybrid-retrieval combiner (lexical BM25 + semantic ANN +
    * priors) because it needs no score calibration, only ranks:
    * rrf(d) = Σ_lists 1/(k + rank_list(d)), absent → no contribution.
    *
    * Each input is (idCol, rankCol); the fuse is one union + one keyed
    * aggregate — no joins, so N lists cost N scans and one shuffle of
    * (id, rank) pairs regardless of corpus size. Output: (idCol,
    * rrf (rounded to 6), n_lists), unsorted — callers rank the fused
    * set themselves (it is candidate-list-sized, not corpus-sized). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    rankings.map(_.select(col(idCol), col(rankCol).cast("long").as("rank")))
      .reduce(_ unionAll _)
      .groupBy(col(idCol))
      .agg(round(sum(lit(1.0) / (col("rank") + k)), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
  }

  /** Build a persisted trigram inverted index: one (gram, doc_id) row
    * per DISTINCT trigram per document, range-partitioned and sorted
    * by gram so a probe's `gram IN (…)` predicate prunes whole files
    * and row groups on parquet min/max stats. Build is one pass over
    * the text + one range shuffle of (3-char, id) rows; at 100 TB this
    * is the index you build once so substring queries never scan the
    * text column again. */
  def buildTrigramIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String): Unit = {
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextHashFunctions.charShingles(
          col(textCol), 3, distinct = true)).as("gram"))
    grams.repartitionByRange(col("gram"))
      .sortWithinPartitions(col("gram"))
      .write.mode("overwrite").parquet(path)
  }

  /** Exact substring search over the trigram index: candidates are
    * documents whose postings contain EVERY trigram of the needle
    * (an intersection — groupBy doc_id HAVING count = |grams|; sound:
    * text containing the needle contains all its trigrams), then the
    * exact `contains` verify runs only on candidate documents. The
    * text column is read for candidates alone — the probe itself
    * touches ~|needle| postings lists, not the corpus. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                  docs: DataFrame, idCol: String, textCol: String,
                  needle: String): DataFrame = {
    require(needle.length >= 3, "needle must be at least 3 chars (trigram index)")
    val grams = needle.sliding(3).toSeq.distinct
    val candidates = spark.read.parquet(indexPath)
      .filter(col("gram").isin(grams: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("ng"))
      .filter(col("ng") === grams.length)
      .select(col("doc_id"))
    docs.join(candidates.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_semi")
      .filter(col(textCol).contains(needle))
  }
}
