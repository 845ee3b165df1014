package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.Pins

/** Distributed unigram-LM tokenizer training (Kudo 2018 — the
  * SentencePiece unigram model), the second tokenizer family next to
  * [[Bpe]]. The reference has no tokenizer trainer; this is part of
  * the engine's training-data surface, built Spark-first:
  *
  *   - the corpus collapses to the word-frequency dict once (one
  *     shuffle, shared with BPE); all training then runs over the
  *     dict — vocabulary-scale, not corpus-scale;
  *   - seeding: every ≤maxPieceLen code-point substring of every
  *     word, weighted by word count (one compiled-kernel explode +
  *     one agg); top `seedSize` by (freq desc, piece asc) plus the
  *     full single-character alphabet (coverage guarantee);
  *   - each EM round is hard-EM: a compiled Viterbi kernel segments
  *     every dict word under the current piece log-probs (map-side,
  *     graft.functions.UnigramSegment), piece counts aggregate with
  *     map-side combine (vocab-scale rows), and the driver re-selects
  *     the top `vocabSize` pieces and recomputes log-probs —
  *     metadata-scale collect, same shape as the BPE argmax;
  *   - DETERMINISTIC throughout: counts are exact longs, selection
  *     orders are total ((count desc, piece asc)), log-probs are
  *     ln(count/total) of exact integers, and the Viterbi tie-break
  *     (equal score → longer piece) is fixed — so the fit is
  *     bit-identical under any partitioning, and `referenceLearn`
  *     (an independent single-machine implementation of the same
  *     spec) must reproduce the vocabulary exactly, which the gate
  *     requires.
  *
  * Single-character pieces are never dropped and count at least 1 in
  * the total (the smoothing that keeps every word segmentable), so
  * Viterbi's unknown-character escape stays unreachable in training.
  *
  * Scoring is FIXED-POINT (r17): piece log-probs are Q32 log₂ values
  * (`logp_fp` = [[log2Fp]](count) − [[log2Fp]](total)) and the
  * Viterbi DP sums Longs. Rescaling a log base multiplies every path
  * score by the same positive constant, so the argmax — and every
  * exact tie, resolved longer-piece-first — is the unigram-LM
  * segmentation; the integer grid is what makes the whole fit
  * replayable bit-for-bit by an independent SQL engine (the q_bpe
  * oracle precedent), where a last-ulp ln() divergence between libm
  * implementations could flip a near-tie. The reported `logp` double
  * is derived from the fixed-point value by one exact division and
  * one multiplication (same two operations on both sides).
  */
object Unigram {

  final case class Piece(piece: String, count: Long, logp_fp: Long, logp: Double)

  /** Exact Q32 fixed-point log₂ of a positive Long: integer part from
    * the bit length, 32 fractional bits by the classic square-and-
    * compare bit extraction — every step is integer arithmetic with
    * defined truncation, so any engine replays it exactly. */
  def log2Fp(x: Long): Long = {
    require(x > 0, s"log2Fp: x must be positive, got $x")
    val ip = 63 - java.lang.Long.numberOfLeadingZeros(x)
    // y = x / 2^ip normalized into [1, 2) as Q32 (truncating when the
    // integer part exceeds 32 bits — part of the spec)
    var y: Long = if (ip >= 32) x >>> (ip - 32) else x << (32 - ip)
    var frac = 0L
    var i = 0
    while (i < 32) {
      // y² / 2^32 (exact 128-bit product, truncated): y stays Q32
      y = (Math.multiplyHigh(y, y) << 32) | ((y * y) >>> 32)
      if (y >= (1L << 33)) { frac = (frac << 1) | 1L; y >>>= 1 }
      else frac <<= 1
      i += 1
    }
    (ip.toLong << 32) | frac
  }

  private val Ln2 = 0.6931471805599453

  /** The reported natural-log double, derived from the Q32 value by
    * one exact power-of-two division and one multiplication. */
  def logpToDouble(fp: Long): Double = fp.toDouble / 4294967296.0 * Ln2

  /** Learn a unigram vocabulary from a (word, wcount) dict (as
    * produced by [[Bpe.wordFreq]]). Returns pieces sorted by piece
    * string ascending. */
  def learn(words: DataFrame, vocabSize: Int = 512, iters: Int = 3,
            seedSize: Int = 2048, maxPieceLen: Int = 6): Seq[Piece] = {
    require(vocabSize >= 1 && iters >= 1 && seedSize >= vocabSize && maxPieceLen >= 1,
      "Unigram.learn: vocabSize >= 1, iters >= 1, seedSize >= vocabSize, maxPieceLen >= 1")
    words.select(col("word"), col("wcount").cast("long").as("wcount")).withPin { dict =>
      // --- seeding: substring frequencies ---
      // Pinned: `sub` feeds TWO collects (seed top-K and the alphabet);
      // post-agg it is distinct-substring-scale (bytes per row).
      val (top, alphabet) = dict.select(col("wcount"),
            explode(concat((1 to maxPieceLen).map(k =>
              graft.functions.TextHashFunctions.charShingles(
                col("word"), k, distinct = false)): _*)).as("p"))
          .groupBy(col("p")).agg(sum(col("wcount")).as("freq"))
          .withPin { sub =>
            (sub.orderBy(desc("freq"), asc("p")).limit(seedSize)
              .collect().map(r => (r.getString(0), r.getLong(1))),
              sub.filter(length(col("p")) === 1)
                .collect().map(r => (r.getString(0), r.getLong(1))))
          }
      var vocab: Seq[(String, Long)] =
        (top ++ alphabet).distinctBy(_._1).toSeq
      var logp: Map[String, Long] = toLogpFp(vocab)

      // --- hard-EM rounds ---
      var round = 0
      while (round < iters) {
        val pieces = vocab.map(_._1).toArray
        val lps = vocab.map(v => logp(v._1)).toArray
        val counts = dict.select(col("wcount"),
            explode(graft.functions.UnigramFunctions.segment(
              col("word"), pieces, lps, maxPieceLen)).as("p"))
          .groupBy(col("p")).agg(sum(col("wcount")).as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val alphaSet = alphabet.map(_._1).toSet
        val selected = vocab.map(_._1).distinct
          .map(p => (p, counts.getOrElse(p, 0L)))
          .filter { case (p, c) => c > 0 || alphaSet.contains(p) }
          .sortBy { case (p, c) => (-c, p) }
        val kept = (selected.take(vocabSize) ++
            selected.filter(s => alphaSet.contains(s._1)))
          .distinctBy(_._1)
          .map { case (p, c) => (p, if (alphaSet.contains(p)) math.max(c, 1L) else c) }
        vocab = kept
        logp = toLogpFp(vocab)
        round += 1
      }
      vocab.map { case (p, c) => Piece(p, c, logp(p), logpToDouble(logp(p))) }
        .sortBy(_.piece).toSeq
    }
  }

  private def toLogpFp(vocab: Seq[(String, Long)]): Map[String, Long] = {
    val total = vocab.map(_._2).sum
    val lgTotal = log2Fp(total)
    vocab.map { case (p, c) => p -> (log2Fp(c) - lgTotal) }.toMap
  }

  /** Corpus-scale application of a learned vocabulary — DICTIONARY-
    * ENCODED like [[Bpe.encode]]: the Viterbi kernel segments each
    * DISTINCT word once (vocabulary-scale), documents explode to
    * (doc, pos, word), join the segmented dictionary and reassemble in
    * word order ([[Bpe.dictEncode]]). Output adds `uni_tokens` (pieces,
    * word order) and `n_uni_tokens`.
    *
    * PRECONDITION: `idCol` must be unique and non-null — reassembly
    * groups by the id and re-attaches payload columns by an id
    * equality join (same contract as [[Bpe.encode]]). */
  def encode(df: DataFrame, textCol: String, vocab: Seq[Piece],
             maxPieceLen: Int = 6, idCol: String = "doc_id"): DataFrame = {
    val pieces = vocab.map(_.piece).toArray
    val lps = vocab.map(_.logp_fp).toArray
    val dict = Bpe.wordFreq(df, textCol).select(col("word"))
      .withColumn("syms", graft.functions.UnigramFunctions.segment(
        col("word"), pieces, lps, maxPieceLen))
      .select(col("word"), col("syms"), size(col("syms")).cast("long").as("n"))
      .pin
    Bpe.dictEncode(df, textCol, idCol, dict, "uni_tokens", "n_uni_tokens")
  }

  /** Segment a word under a learned vocabulary — same Viterbi spec as
    * the kernel (longer piece wins score ties, unknown code points
    * consume one at the floor). Driver-side; the distributed encode
    * path is `UnigramFunctions.segment` over a column. */
  def segmentWord(word: String, logp: Map[String, Long],
                  maxPieceLen: Int): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val n = word.codePointCount(0, word.length)
    val offs = new Array[Int](n + 1)
    var i = 0
    var p = 0
    while (p < word.length) {
      offs(i) = p; p += Character.charCount(word.codePointAt(p)); i += 1
    }
    offs(n) = word.length
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    i = 1
    while (i <= n) {
      var best = Long.MinValue
      var bestL = 0
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        logp.get(word.substring(offs(i - l), offs(i))) match {
          case Some(lp) =>
            val c = dp(i - l) + lp
            if (c > best || (c == best && l > bestL)) { best = c; bestL = l }
          case None =>
        }
        l += 1
      }
      if (bestL == 0) { best = dp(i - 1) + graft.functions.UnigramKernel.Floor; bestL = 1 }
      dp(i) = best; back(i) = bestL; i += 1
    }
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    i = n
    while (i > 0) { rev += word.substring(offs(i - back(i)), offs(i)); i -= back(i) }
    out ++= rev.reverse
    out.result()
  }

  /** Independent driver-side reference implementation (same spec, no
    * Spark) for the gate's cross-path identity check: same seeding,
    * same selection orders, same smoothing, same Viterbi tie-breaks,
    * same ln over exact integers. */
  def referenceLearn(dict: Seq[(String, Long)], vocabSize: Int = 512,
                     iters: Int = 3, seedSize: Int = 2048,
                     maxPieceLen: Int = 6): Seq[Piece] = {
    // seeding: substring frequencies by plain loops
    val freq = new java.util.HashMap[String, Long]()
    dict.foreach { case (w, c) =>
      val n = w.codePointCount(0, w.length)
      val offs = new Array[Int](n + 1)
      var i = 0; var p = 0
      while (p < w.length) { offs(i) = p; p += Character.charCount(w.codePointAt(p)); i += 1 }
      offs(n) = w.length
      var s = 0
      while (s < n) {
        var l = 1
        while (l <= math.min(maxPieceLen, n - s)) {
          freq.merge(w.substring(offs(s), offs(s + l)), c, (a, b) => a + b)
          l += 1
        }
        s += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val all = freq.asScala.toSeq
    val top = all.sortBy { case (p, c) => (-c, p) }.take(seedSize)
    val alphabet = all.filter { case (p, _) => p.codePointCount(0, p.length) == 1 }
    val alphaSet = alphabet.map(_._1).toSet
    var vocab: Seq[(String, Long)] = (top ++ alphabet).distinctBy(_._1)
    def toLp(v: Seq[(String, Long)]): Map[String, Long] = {
      val total = v.map(_._2).sum
      val lgTotal = log2Fp(total)
      v.map { case (p, c) => p -> (log2Fp(c) - lgTotal) }.toMap
    }
    var lp = toLp(vocab)
    var round = 0
    while (round < iters) {
      val counts = new java.util.HashMap[String, Long]()
      dict.foreach { case (w, c) =>
        segmentWord(w, lp, maxPieceLen)
          .foreach(pc => counts.merge(pc, c, (a, b) => a + b))
      }
      val selected = vocab.map(_._1).distinct
        .map(p => (p, counts.getOrDefault(p, 0L)))
        .filter { case (p, c) => c > 0 || alphaSet.contains(p) }
        .sortBy { case (p, c) => (-c, p) }
      vocab = (selected.take(vocabSize) ++
          selected.filter(s => alphaSet.contains(s._1)))
        .distinctBy(_._1)
        .map { case (p, c) => (p, if (alphaSet.contains(p)) math.max(c, 1L) else c) }
      lp = toLp(vocab)
      round += 1
    }
    vocab.map { case (p, c) => Piece(p, c, lp(p), logpToDouble(lp(p))) }.sortBy(_.piece)
  }
}
