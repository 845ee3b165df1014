package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All-native `org.apache.spark.sql.functions` expressions — every op
  * stays inside whole-stage codegen, no UDFs, so a 100 TB documents
  * scan runs at columnar-read speed with filters/projections pushed to
  * parquet.
  */
object TextAnalysis {

  /** Whitespace tokens of a document (lowercased). */
  def tokens(text: Column): Column =
    split(btrim(lower(text)), "\\s+")

  /** Token count (whitespace tokenization; 0 for empty/blank). */
  def tokenCount(text: Column): Column =
    when(length(btrim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** A BPE-ish subword count estimate: words + punctuation marks +
    * one extra unit per full 6 chars of long words (approximates
    * byte-pair splits of rare words without a vocab file). Integral —
    * the extra units use floor division, so the count is a token
    * budget, not a fraction. */
  def subwordCountEstimate(text: Column): Column = {
    val words = tokens(text)
    val longWordExtra = aggregate(words, lit(0L),
      (acc, w) => acc + greatest(lit(0L), floor((length(w) - 1) / lit(6.0)).cast("long")))
    tokenCount(text) + longWordExtra +
      length(regexp_replace(text, "[^.,!?;:]", ""))
  }

  private val defaultStopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Raw counting stats in ONE compiled pass (native
    * graft.functions.TextStatsExpr — the column-expression version
    * walked the text once per feature with regex passes). */
  def textStats(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    graft.functions.TextStatsFunctions.textStats(text, stopwords)

  /** Quality-scoring features: length, token stats, punctuation and
    * stopword ratios, derived from the single-pass stats kernel.
    * The stopword ratio uses the kernel's n_stop_distinct (DISTINCT
    * stopwords present = array_intersect semantics of the original
    * column pipeline) — the whole feature struct is ONE kernel pass,
    * no second tokenization. */
  def qualityFeatures(text: Column,
                      stopwords: Seq[String] = defaultStopwords): Column = {
    val st = textStats(text, stopwords)
    val nTok = st.getField("n_tokens").cast("double")
    val nChar = st.getField("n_chars").cast("double")
    val nPunct = st.getField("n_punct").cast("double")
    val nStop = st.getField("n_stop_distinct").cast("double")
    val meanTokLen = when(nTok > 0, nChar / nTok).otherwise(lit(0.0))
    struct(
      st.getField("n_chars").as("n_chars"),
      st.getField("n_tokens").as("n_tokens"),
      when(nChar > 0, nPunct / nChar).otherwise(lit(0.0)).as("punct_ratio"),
      when(nTok > 0, nStop / nTok).otherwise(lit(0.0)).as("stopword_ratio"),
      meanTokLen.as("mean_token_len"))
  }

  /** Split each document into fixed token-budget chunks with overlap —
    * the windowing pass a training/RAG pipeline runs so long documents
    * become model-sized sequences. Chunk i covers tokens
    * [i·stride, i·stride + budget), stride = budget − overlap; chunk
    * count = max(1, ⌈(n − overlap)/stride⌉), so every token lands in
    * some chunk and consecutive chunks share `overlap` tokens. A pure
    * per-row explode of codegen'd builtins (split/slice/sequence) —
    * map-side at any corpus size, nothing shuffles. Output = input
    * cols + chunk_idx + chunk (text) + chunk_tokens. Empty documents
    * contribute zero chunks. */
  def chunkDocuments(df: DataFrame, textCol: String,
                     budget: Int, overlap: Int = 0): DataFrame = {
    require(budget > 0, "chunkDocuments: budget must be positive")
    require(overlap >= 0 && overlap < budget,
      "chunkDocuments: overlap must be in [0, budget)")
    val stride = budget - overlap
    // tokenize ONCE before the explode: computing the window from
    // tokens(text) after it would re-split the document on every
    // chunk row (O(chunks x doc length) per doc)
    val toksOnce = when(length(btrim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(tokens(col(textCol)))
    val nChunks = greatest(lit(1),
      ceil((size(col("_toks")) - lit(overlap)).cast("double") / stride).cast("int"))
    val idxs = when(size(col("_toks")) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), nChunks - 1))
    val win = slice(col("_toks"), col("chunk_idx") * stride + 1, lit(budget))
    df.withColumn("_toks", toksOnce)
      .withColumn("chunk_idx", explode(idxs))
      .withColumn("chunk", array_join(win, " "))
      .withColumn("chunk_tokens", size(win))
      .drop("_toks")
  }

  /** Next-fit sequence packing: within each `keyCol` group, walk rows
    * in ascending `orderCol` order and assign consecutive rows to the
    * same bin until adding the next row's `weightCol` would exceed
    * `budget`, then open a new bin (a row heavier than the whole
    * budget gets its own bin). The batch-construction pass that turns
    * a token-counted corpus into ≤budget training sequences.
    *
    * Packing is inherently sequential IN ORDER, so the parallel unit
    * is the key group: one hash shuffle on `keyCol`, then each group
    * streams sorted through `flatMapSortedGroups` — Spark sorts
    * within partitions, state per group is two longs. At 100 TB the
    * key (source/domain/shard) is what bounds group size; a single
    * giant group is the same inherent bottleneck the reference's
    * global count window has. Output: (key, id, weight, bin_idx). */
  def sequencePack(df: DataFrame, keyCol: String, orderCol: String,
                   weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, "sequencePack: budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string").as("__pk"),
        col(orderCol).cast("long").as("__po"),
        col(weightCol).cast("long").as("__pw"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"__po") { (key, rows) =>
        var bin = 0L
        var fill = 0L
        var first = true
        rows.map { case (_, id, w) =>
          if (first) { fill = w; first = false }
          else if (fill + w > budget) { bin += 1; fill = w }
          else fill += w
          (key, id, w, bin)
        }
      }
      .toDF(keyCol, orderCol, weightCol, "bin_idx")
  }

  /** GPT-style concat-and-chunk packing (Brown et al. 2020 pretraining
    * batches): the corpus is conceptually concatenated in ascending
    * `idCol` order, each document followed by `eodTokens` separator
    * tokens, and the token stream sliced into fixed `chunkLen` chunks
    * that CROSS document boundaries — the complement of
    * [[sequencePack]] (which never splits a document). Output: one row
    * per (chunk, document) overlap with the document's token span
    * inside that chunk:
    *
    *   (chunk_id, doc_id, tok_start, tok_end)   [start inc, end exc;
    *    indices n_tokens .. n_tokens+eodTokens-1 are the EOD marks]
    *
    * Scale shape — the global prefix sum is TWO-PHASE, never a
    * single-partition window: documents bucket by a pure id-range
    * projection (deterministic under re-evaluation, unlike
    * spark_partition_id after a sampled range shuffle), each bucket
    * cumsums locally (hash shuffle + in-partition sort), and the
    * per-bucket totals (#buckets rows, metadata scale) come back as a
    * broadcast exclusive prefix. All-integer arithmetic throughout. */
  def concatChunks(df: DataFrame, idCol: String, textCol: String,
                   chunkLen: Long, eodTokens: Int = 1): DataFrame = {
    require(chunkLen > 0, "concatChunks: chunkLen must be positive")
    require(eodTokens >= 0, "concatChunks: eodTokens must be >= 0")
    val spark = df.sparkSession
    val base = df.select(col(idCol).cast("long").as("__id"),
      (tokenCount(col(textCol)).cast("long") + eodTokens).as("__w"))
    val r = base.agg(min(col("__id")), max(col("__id")), count(lit(1))).head
    if (r.isNullAt(0))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("chunk_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("tok_start",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("tok_end",
            org.apache.spark.sql.types.LongType))))
    val (minId, maxId, nRows) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val par = spark.sparkContext.defaultParallelism.toLong
    val buckets = math.max(1L, math.min(par, nRows / 4L))
    val span = maxId - minId + 1
    val width = math.max(1L, (span + buckets - 1) / buckets)
    val wb = base.withColumn("__b", ((col("__id") - minId) / width).cast("int"))
    // phase 1: per-bucket inclusive cumsum in id order
    val wloc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__id"))
    val local = wb.withColumn("__cum", sum(col("__w")).over(wloc))
    // phase 2: bucket totals → driver (≤ parallelism rows) →
    // exclusive prefix, rejoined by broadcast
    val totals = wb.groupBy(col("__b")).agg(sum(col("__w")).as("__t"))
      .orderBy(col("__b")).collect()
    var acc = 0L
    val prefixRows = totals.map { row =>
      val p = (row.getInt(0), acc); acc += row.getLong(1); p
    }.toSeq
    import spark.implicits._
    val prefixDf = prefixRows.toDF("__b", "__pfx")
    val off = local.join(broadcast(prefixDf), Seq("__b"))
      .withColumn("__off", col("__pfx") + col("__cum") - col("__w"))
    // each document explodes to its overlapping chunk range (`div` =
    // integral division, exact at any corpus size — float floor would
    // drift past 2^53 tokens)
    off.select(col("__id"), col("__w"), col("__off"),
        explode(sequence(expr(s"__off div ${chunkLen}L"),
          expr(s"(__off + __w - 1) div ${chunkLen}L"))).as("chunk_id"))
      .select(
        col("chunk_id"),
        col("__id").as("doc_id"),
        greatest(lit(0L), col("chunk_id") * chunkLen - col("__off")).as("tok_start"),
        least(col("__w"), (col("chunk_id") + 1) * chunkLen - col("__off")).as("tok_end"))
  }

  /** T5-style span-corruption map (Raffel et al. 2020): for each
    * document, the set of non-overlapping noise spans a denoising
    * pretraining objective masks — DETERMINISTIC, so the same corpus
    * always yields the same training examples (and any SQL engine can
    * replay the placement exactly, unlike an RNG-seeded sampler):
    *
    *   n_noise = max(1, ⌊n·noiseBp/10000⌋)   (≈15% of tokens)
    *   n_spans = max(1, ⌊n_noise/meanSpan⌋)  (mean span ≈ meanSpan)
    *   span s < n_spans gets length base(+1 for the first
    *   n_noise mod n_spans spans), placed inside the s-th of n_spans
    *   equal segments at offset md5(salt:id:s) mod avail — the same
    *   16-bit md5-bucket PRF the sampling family uses, so placement
    *   is identical on every engine that has md5.
    *
    * Segmented placement guarantees non-overlap by construction (no
    * rejection loop to replay). Blank documents are excluded. Output:
    * (idCol, span_idx, span_start, span_end, n_tokens) — positions
    * token-based, end exclusive; span_idx doubles as the sentinel id.
    * Map-side only: one projection + one explode, no shuffle. */
  def spanCorruptionMap(df: DataFrame, idCol: String, textCol: String,
                        noiseBp: Int = 1500, meanSpan: Int = 3,
                        salt: String = "t5"): DataFrame = {
    require(noiseBp >= 1 && noiseBp <= 10000, "noiseBp in 1..10000")
    require(meanSpan >= 1, "meanSpan >= 1")
    val base = df
      .select(col(idCol).as("__id"), tokenCount(col(textCol)).cast("long").as("n"))
      .filter(col("n") >= 1)
      .withColumn("n_noise", greatest(lit(1L), expr(s"(n * $noiseBp) div 10000")))
      .withColumn("n_spans", greatest(lit(1L), expr(s"n_noise div $meanSpan")))
      .withColumn("lbase", expr("n_noise div n_spans"))
      .withColumn("extra", expr("n_noise % n_spans"))
      .withColumn("seg", expr("n div n_spans"))
    base
      .select(col("__id"), col("n"), col("lbase"), col("extra"), col("seg"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("span_idx"))
      .withColumn("span_len",
        least(col("lbase") + when(col("span_idx") < col("extra"), 1L).otherwise(0L),
          col("seg")))
      .withColumn("avail", col("seg") - col("span_len") + 1)
      .withColumn("off",
        conv(substring(md5(concat(lit(salt + ":"), col("__id").cast("string"),
          lit(":"), col("span_idx").cast("string"))), 1, 4), 16, 10)
          .cast("long") % col("avail"))
      .select(col("__id").as(idCol), col("span_idx"),
        (col("span_idx") * col("seg") + col("off")).as("span_start"),
        (col("span_idx") * col("seg") + col("off") + col("span_len")).as("span_end"),
        col("n").as("n_tokens"))
  }

  /** Gopher-style document-quality rule suite (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", table A1) — the per-rule boolean verdicts
    * a corpus-filtering pass thresholds on, not a single opaque score, so
    * downstream curation can ablate rules independently. One map-side pass
    * of codegen'd builtins; exact-string `replace` counting (no regex) for
    * the symbol rules so any SQL engine replays the counts byte-for-byte.
    *
    * Rules (defaults = the published thresholds):
    *   r_word_count     minWords ≤ #words ≤ maxWords
    *   r_mean_word_len  3 ≤ Σlen(word)/#words ≤ 10
    *   r_symbol_ratio   (#'#' + #'...') / #words ≤ 0.1
    *   r_bullet_lines   ≤ 90% of lines start with a bullet (-, *, •)
    *   r_ellipsis_lines ≤ 30% of lines end with ... or …
    *   r_alpha_words    ≥ 80% of words contain an alphabetic char
    *   r_stopwords      ≥ 2 distinct of {the,be,to,of,and,that,have,with}
    *   keep             AND of all rules
    *
    * Empty/blank documents have zero words → every per-word rule false.
    * Output struct carries the measured features alongside the verdicts
    * (a filter that drops data silently is undebuggable at 100 TB). */
  def gopherRules(text: Column,
                  minWords: Int = 50, maxWords: Int = 100000): Column =
    graft.functions.TextStatsFunctions.gopherRules(text, minWords, maxWords)

  /** Repetition statistics in ONE compiled pass (native
    * graft.functions.RepetitionStatsExpr): token count, duplicated
    * bigram/trigram instances, and the most-frequent-token count —
    * the doc-internal duplication signals repetition-rule quality
    * filters threshold on (a document that keeps repeating the same
    * n-grams or one token is boilerplate/spam). Exact integer counts;
    * divide downstream for ratio thresholds. */
  def repetitionStats(text: Column): Column =
    graft.functions.TextStatsFunctions.repetitionStats(text)

  /** Scalar quality score in [0,1]: length sweet-spot × punctuation
    * sanity × stopword presence (heuristics in the C4/Gopher style). */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f("n_tokens").cast("double") / 20.0, lit(1.0))
    val punctOk = when(f("punct_ratio") < 0.2, 1.0).otherwise(0.5)
    val stopOk = when(f("stopword_ratio") > 0.01, 1.0).otherwise(0.7)
    round(lenScore * punctOk * stopOk, 4)
  }

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literals into codegen. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for",
      "table", "key", "value", "row", "scan", "fast", "slow", "part"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "las",
      "es", "por", "con", "para", "del", "se"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "est",
      "que", "pour", "dans", "du", "sur", "avec"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
      "ist", "des", "ein", "eine", "auf", "für", "nicht"))

  /** Language identification: CJK character ratio decides zh; otherwise
    * the language whose marker-lexicon overlaps the token set most —
    * one compiled pass (native graft.functions.LangIdExpr; same scoring
    * and tie-breaking as the original greatest-over-structs fold). */
  def langId(text: Column): Column =
    graft.functions.TextStatsFunctions.langId(text,
      langMarkers.map(_._1), langMarkers.map(_._2))

  /** Whole-document fingerprint: 64-bit xxhash of the normalized text.
    * Exact-dup detection key. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(btrim(lower(text)), "\\s+", " "))

  /** Rolling k-shingle fingerprints: xxhash64 of each k-token window —
    * the shingle set for MinHash / Jaccard dedup. Native
    * sequence/transform/slice, no UDF. */
  def shingleFingerprints(text: Column, k: Int): Column = {
    // lambda-bind the token array (one-element transform) so the text
    // is split once per row, not once per shingle — same hazard as
    // Scrub.tokenWindowLines
    val mk = (toks: Column) =>
      when(size(toks) < k, array(xxhash64(concat_ws(" ", toks))))
        .otherwise(
          transform(
            sequence(lit(0), size(toks) - k),
            i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(k))))))
    get(transform(array(tokens(text)), mk), lit(0))
  }

  /** Full per-document analysis record. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("features", qualityFeatures(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fp64", fingerprint(t))
  }
}
