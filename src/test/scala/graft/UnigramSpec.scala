package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Unigram}

/** Unigram-LM tokenizer properties beyond the gate's cross-path
  * identity: losslessness, alphabet coverage, partition invariance,
  * and that hard-EM actually learns frequent multi-char pieces. */
class UnigramSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox likes the other fox",
    "pack my box with five dozen liquor jugs",
    "the jugs fox dog quick quick the the").toDF("text")

  test("learn: vocab capped, alphabet present, frequent words become pieces") {
    val words = Bpe.wordFreq(corpus, "text").select(col("word"), col("wcount"))
    val vocab = Unigram.learn(words, vocabSize = 64, iters = 3,
      seedSize = 256, maxPieceLen = 6)
    val pieces = vocab.map(_.piece).toSet
    // every corpus character must be a piece (coverage guarantee)
    val alphabet = corpus.as[String].collect().flatMap(_.split("\\s+"))
      .flatMap(_.toCharArray).map(_.toString).toSet
    assert(alphabet.subsetOf(pieces),
      s"missing alphabet pieces: ${alphabet -- pieces}")
    // 'the' (8 occurrences) must be learned as one piece
    assert(pieces.contains("the"), "frequent word 'the' not learned")
    // log-probs normalized over positive counts
    assert(vocab.forall(p => p.count >= 1 && p.logp < 0.0))
  }

  test("learn: bit-identical to referenceLearn and partition-invariant") {
    val words = Bpe.wordFreq(corpus, "text").select(col("word"), col("wcount"))
    val v1 = Unigram.learn(words, vocabSize = 48, iters = 2,
      seedSize = 200, maxPieceLen = 5)
    val v2 = Unigram.learn(words.repartition(7), vocabSize = 48, iters = 2,
      seedSize = 200, maxPieceLen = 5)
    assert(v1 == v2, "fit must not depend on partitioning")
    val dict = words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val ref = Unigram.referenceLearn(dict, vocabSize = 48, iters = 2,
      seedSize = 200, maxPieceLen = 5)
    assert(v1 == ref, s"diverges from reference:\n  ${v1.take(3)}\n  ${ref.take(3)}")
  }

  test("learn releases the dictionary and substring pins") {
    val words = Bpe.wordFreq(corpus, "text").select(col("word"), col("wcount"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Unigram.learn(words, vocabSize = 32, iters = 1, seedSize = 64, maxPieceLen = 4)
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty, "learn left a persistent RDD")
  }

  test("segmentWord: losslessness and longer-piece tie-break") {
    // fixed-point log-probs from counts over total 16: p(ab) = 4/16 =
    // (8/16)·(8/16) = p(a)·p(b) — exact powers of two, so the Q32
    // values are exact and the two paths tie exactly
    def lpFp(c: Long): Long = Unigram.log2Fp(c) - Unigram.log2Fp(16L)
    val lp = Map("ab" -> lpFp(4), "a" -> lpFp(8), "b" -> lpFp(8), "c" -> lpFp(4))
    // score("ab") = log2(1/4); score("a")+score("b") = 2·log2(1/2) —
    // equal: the LONGER piece must win the tie
    assert(lp("ab") == lp("a") + lp("b"), "tie fixture must be an exact tie")
    assert(Unigram.segmentWord("ab", lp, 6) == Seq("ab"))
    assert(Unigram.segmentWord("abc", lp, 6).mkString("") == "abc")
    // unknown characters consume one code point at the floor
    assert(Unigram.segmentWord("axb", lp, 6) == Seq("a", "x", "b"))
    assert(Unigram.segmentWord("", lp, 6).isEmpty)
  }

  test("log2Fp: exact on powers of two, monotone, replayable spec") {
    assert(Unigram.log2Fp(1L) == 0L)
    assert(Unigram.log2Fp(2L) == (1L << 32))
    assert(Unigram.log2Fp(1L << 40) == (40L << 32))
    // exact values cross-checked against the independent DuckDB SQL
    // replay of the same square-and-compare spec (the q_unigram
    // oracle's log2fp layers) — these lock the two implementations
    // together bit-for-bit
    val expect = Map(3L -> 6807362105L, 7L -> 12057497578L,
      100L -> 28535145054L, 12345L -> 58375645931L,
      999999937L -> 128408152354L)
    expect.foreach { case (x, v) =>
      assert(Unigram.log2Fp(x) == v, s"log2Fp($x) != DuckDB replay $v")
    }
    // against double log2 within one Q32 ulp (truncation is downward)
    for (x <- Seq(3L, 7L, 100L, 12345L, 999999937L)) {
      val got = Unigram.log2Fp(x).toDouble / 4294967296.0
      val want = math.log(x.toDouble) / math.log(2.0)
      assert(math.abs(got - want) < 1e-9, s"log2Fp($x): $got vs $want")
    }
    // strictly monotone over a prefix (distinct counts must never
    // collapse onto one grid value at vocabulary scales)
    val vals = (1L to 4096L).map(Unigram.log2Fp)
    assert(vals == vals.sorted && vals.distinct.size == vals.size)
  }
}
