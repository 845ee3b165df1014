package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Bpe, TimeSeries}
import graft.core.Checkpoints.Pins

/** Gate queries for the time-series / engagement-analytics operators
  * (ops/TimeSeries) and the BPE tokenizer trainer (ops/Bpe). The
  * first three replay exactly in DuckDB (generate_series + IGNORE
  * NULLS window, ordered sweep, cohort matrix); BPE is iterative
  * global-argmax — no SQL oracle can express it, so the gate enforces
  * CROSS-PATH IDENTITY with an independent driver-side implementation
  * instead (the q_sim_ivf_indexed pattern).
  */
object TimeSeriesQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Learned-merge registry, keyed on the corpus file's footprint
    * (path, mtime, size — the Tables.schemaCache pattern): training is
    * deterministic, so the 30-merge vocabulary is a reusable artifact.
    * q_bpe always trains FRESH (it times and identity-checks the
    * trainer) and publishes here; q_bpe_encode consumes the artifact —
    * train-once-apply-many, the shape a real tokenizer pipeline has
    * (re-learning the vocab before every encode run doubled the
    * corpus-scale bench cost for identical results). */
  private val mergesCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Seq[Bpe.Merge]]
  private val unigramCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Seq[graft.ops.Unigram.Piece]]
  private def corpusKey(dir: String): (String, Long, Long) = {
    val f = new java.io.File(s"$dir/documents.parquet")
    (f.getPath, f.lastModified, f.length)
  }

  /** Per-user daily resample of the events stream with forward fill
    * (ops/TimeSeries.resample): one row per (user, day) across each
    * user's own active span, gaps carrying the last observed daily
    * max. Per-bucket aggregate is max() — order-independent, so the
    * doubles are bit-stable against the oracle. */
  def qResample(s: SparkSession, dir: String): DataFrame =
    TimeSeries.resample(t(s, dir, "events"), "user_id", "ts", "value",
        truncUnit = "DAY", step = "interval 1 day")
      .orderBy(col("user_id"), col("bucket"))

  /** Max-concurrency sweep over gap-based user sessions
    * (ops/TimeSeries.intervalConcurrency): session intervals are
    * [first event, last event + 4h) — the native session_window
    * bounds — and the sweep emits the running open-session count at
    * every boundary. The prefix sum distributes via range buckets +
    * broadcast offsets, not a single-task global window. */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = graft.ops.Sessions.sessionAgg(t(s, dir, "events"),
        "user_id", "ts", "4 hours", Seq(count(lit(1)).as("n_events")))
      .select(col("session_window.start").as("st"),
        col("session_window.end").as("en"))
    TimeSeries.intervalConcurrency(iv, "st", "en")
      .orderBy(col("ts"), col("delta"))
  }

  /** Cohort retention matrix (ops/TimeSeries.cohortRetention): users
    * bucketed by first-seen day, distinct actives per (cohort, day
    * offset) — the engagement-decay table. */
  def qRetention(s: SparkSession, dir: String): DataFrame =
    TimeSeries.cohortRetention(t(s, dir, "events"), "user_id", "ts", "DAY")
      .orderBy(col("cohort"), col("day_offset"))

  /** Token-entropy quality signal (functions/TokenEntropyExpr): the
    * whole corpus scored in ONE compiled map-side pass — no explode,
    * no shuffle; the DuckDB oracle rebuilds the unigram distribution
    * relationally and must agree to 4 decimals. */
  def qEntropy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextStatsFunctions.tokenEntropy(col("text")).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.n_distinct").as("n_distinct"),
        round(col("e.entropy"), 4).as("entropy"))
      .orderBy(col("doc_id"))

  /** Exponentially decayed engagement score (ops/TimeSeries
    * .decayedScore): per (user, active day), the trailing-14-day decay
    * sum of daily maxima with a 1-day half-life — fixed-point BIGINT
    * weights (exact powers of two), contributions exploded map-side
    * (bounded fan-out), never a per-key quadratic self-join. The
    * integer score_fp hash-matches bit-for-bit; score is one IEEE
    * division from it. `day` travels as TIMESTAMP so both engines
    * hash the same dtype. */
  def qDecayed(s: SparkSession, dir: String): DataFrame =
    TimeSeries.decayedScore(t(s, dir, "events"), "user_id", "ts", "value",
        horizonDays = 14, valueScale = 100L)
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
        col("score_fp"), col("score"))
      .orderBy(col("user_id"), col("day"))

  /** BPE vocabulary learning (ops/Bpe): 30 merges over the document
    * corpus's word-frequency dict. SELF-CHECKING: the distributed
    * learner's merge sequence must be IDENTICAL (rank, pair, freq) to
    * an independent driver-side reference implementation replayed on
    * the collected dict — any divergence in pair counting, greedy
    * re-segmentation, or tie-breaking fails the gate, not just a
    * spec. (Guarded to gate scales: the replay runs only while the
    * dict fits comfortably on the driver.) */
  def qBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the dict is pinned once: vocabulary-scale, but its lineage is
    // the full corpus scan + shuffle, and three consumers read it
    // (learnMerges, dictSize, the replay collect)
    Bpe.wordFreq(t(s, dir, "documents"), "text").withPin { words =>
      val merges = Bpe.learnMerges(words, numMerges = 30)
      mergesCache.put(corpusKey(dir), merges)
      require(merges.nonEmpty, "q_bpe: no merges learned")
      val dictSize = words.count()
      if (dictSize <= 200000L) {
        val dict = words.select(col("word"), col("wcount"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val ref = Bpe.referenceLearn(dict, numMerges = 30)
        require(merges == ref,
          s"q_bpe: distributed merges diverge from reference replay\n" +
            s"  spark: ${merges.take(5)}\n  ref:   ${ref.take(5)}")
      }
      merges.toDF()
        .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
          concat(col("left"), col("right")).as("merged"), col("freq"))
        .orderBy(col("rank"))
    }
  }

  /** First-touch funnel over the event stream
    * (ops/TimeSeries.funnel): signup → view → click → purchase, each
    * step strictly after the previous step's first touch. DuckDB
    * replays the per-step frontiers with chained correlated mins —
    * the strict-ordering rule (a tie does not advance) and the ppm
    * floor conversions are what the hash locks. */
  def qFunnelConv(s: SparkSession, dir: String): DataFrame =
    TimeSeries.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))
      .orderBy(col("step_idx"))

  /** Unigram-LM tokenizer training (ops/Unigram — the SentencePiece
    * unigram model, the second tokenizer family next to BPE).
    * SELF-CHECKING twice over: (a) the distributed hard-EM fit
    * (compiled Viterbi kernel per dict word per round) must be
    * BIT-IDENTICAL — piece, count, and log-prob — to an independent
    * driver-side reference replay on the collected dict (guarded to
    * gate scales, the q_bpe pattern); (b) segmentation is a partition
    * of each word, so re-joining every dict word's Viterbi pieces
    * must reproduce the word exactly — one dropped or overlapping
    * piece anywhere in the dict fails the gate. */
  def qUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Bpe.wordFreq(t(s, dir, "documents"), "text")
      .select(col("word"), col("wcount")).withPin { words =>
      val vocab = graft.ops.Unigram.learn(words,
        vocabSize = 512, iters = 3, seedSize = 2048, maxPieceLen = 6)
      require(vocab.nonEmpty, "q_unigram: empty vocabulary")
      // losslessness over the WHOLE dict: segmentation partitions the
      // word, so the joined pieces must reproduce it byte-for-byte
      val pieces = vocab.map(_.piece).toArray
      val lps = vocab.map(_.logp_fp).toArray
      val broken = words.select(col("word"),
          array_join(graft.functions.UnigramFunctions.segment(
            col("word"), pieces, lps, 6), "").as("rejoined"))
        .filter(col("word") =!= col("rejoined")).count()
      require(broken == 0L, s"q_unigram: $broken dict words do not rejoin")
      // cross-path identity, guarded to gate scales (q_bpe pattern)
      if (words.count() <= 200000L) {
        val dict = words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val ref = graft.ops.Unigram.referenceLearn(dict,
          vocabSize = 512, iters = 3, seedSize = 2048, maxPieceLen = 6)
        require(vocab == ref,
          s"q_unigram: distributed vocab diverges from reference replay\n" +
            s"  spark: ${vocab.take(3)}\n  ref:   ${ref.take(3)}")
      }
      unigramCache.put(corpusKey(dir), vocab)
      vocab.toDF().orderBy(col("piece"))
    }
  }

  /** Corpus-scale unigram application (ops/Unigram.encode), the
    * q_bpe_encode shape: the cached learned vocabulary segments every
    * document via the dictionary-encoded path, and the gate enforces
    * LOSSLESSNESS over the whole corpus — concatenating each doc's
    * pieces must reproduce its whitespace-stripped normalized text
    * exactly (Viterbi segmentation partitions each word, so any drop,
    * duplicate, or mis-split anywhere fails). Output is the
    * per-source fertility table. */
  def qUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = unigramCache.getOrElseUpdate(corpusKey(dir),
      graft.ops.Unigram.learn(
        Bpe.wordFreq(docs, "text").select(col("word"), col("wcount")),
        vocabSize = 512, iters = 3, seedSize = 2048, maxPieceLen = 6))
    val enc = graft.ops.Unigram.encode(docs, "text", vocab)
    val rejoined = array_join(col("uni_tokens"), "")
    val squeezed = regexp_replace(
      regexp_replace(btrim(lower(col("text"))), "\\s+", " "), " ", "")
    val per = enc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_uni_tokens")).as("tokens_total"),
        sum(length(squeezed)).as("chars_squeezed"),
        sum(when(rejoined =!= squeezed, 1L).otherwise(0L)).as("broken"))
      .pin
    val broken = per.agg(coalesce(sum(col("broken")), lit(0L))).head.getLong(0)
    require(broken == 0L,
      s"q_unigram_encode: $broken documents do not rejoin to their squeezed text")
    per.select(col("source"), col("n_docs"), col("tokens_total"), col("chars_squeezed"))
      .withColumn("fertility",
        round(col("tokens_total").cast("double") / col("chars_squeezed"), 4))
      .orderBy(col("source"))
  }

  /** Corpus-scale BPE application (ops/Bpe.encode): the 30 learned
    * merges segment every document map-side; output is the per-source
    * tokenizer-fertility table (BPE tokens per character — the metric
    * tokenizer training actually optimizes). No SQL oracle can know
    * the learned merges, so the gate enforces the LOSSLESSNESS
    * invariant over the WHOLE corpus instead: re-joining each doc's
    * BPE tokens (with `</w>` → space) must reproduce its
    * whitespace-normalized lowercased text exactly — one dropped,
    * duplicated, or mis-merged symbol anywhere fails the gate. */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = mergesCache.getOrElseUpdate(corpusKey(dir),
      Bpe.learnMerges(Bpe.wordFreq(docs, "text"), numMerges = 30))
    val enc = Bpe.encode(docs, "text", merges)
    val rejoined = rtrim(regexp_replace(
      array_join(col("bpe_tokens"), ""), java.util.regex.Pattern.quote(Bpe.EndOfWord), " "))
    val normalized = regexp_replace(btrim(lower(col("text"))), "\\s+", " ")
    // ONE corpus pass: the losslessness violations count rides the same
    // aggregation as the fertility stats (a separate filter-count pass
    // re-ran the whole encode plan — 2× the gate's corpus cost)
    val per = enc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("tokens_total"),
        sum(length(normalized)).as("chars_norm"),
        sum(when(rejoined =!= normalized, 1L).otherwise(0L)).as("broken"))
      .pin // #sources rows
    val broken = per.agg(coalesce(sum(col("broken")), lit(0L))).head.getLong(0)
    require(broken == 0L,
      s"q_bpe_encode: $broken documents do not rejoin to their normalized text")
    per.select(col("source"), col("n_docs"), col("tokens_total"), col("chars_norm"))
      .withColumn("fertility",
        round(col("tokens_total").cast("double") / col("chars_norm"), 4))
      .orderBy(col("source"))
  }
}
