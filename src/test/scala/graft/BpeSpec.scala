package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Bpe
import graft.core.Checkpoints.Pins

/** ops/Bpe: hand-checkable merges on the classic toy corpus, exact
  * distributed-vs-reference identity on real text, and encode()
  * consistency with the learned segmentation. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("learns the classic merges on a toy corpus") {
    // Sennrich's running example shape: {low x5, lower x2, newest x6,
    // widest x3}. Highest pair is (e,s) 9 (newest+widest), then
    // (es,t) 9, then (est,</w>) 9, then (l,o) 7, (lo,w) 7 ...
    val df = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .toDF("text")
    val words = Bpe.wordFreq(df, "text")
    val merges = Bpe.learnMerges(words, numMerges = 5)
    assert(merges.map(m => (m.left, m.right, m.freq)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)), s"got $merges")
  }

  test("distributed learner identical to reference implementation on real docs") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val words = Bpe.wordFreq(docs, "text")
    val merges = Bpe.learnMerges(words, numMerges = 20)
    val dict = words.select(col("word"), col("wcount"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val ref = Bpe.referenceLearn(dict, numMerges = 20)
    assert(merges == ref,
      s"diverged:\n spark=${merges.take(8)}\n ref=  ${ref.take(8)}")
    assert(merges.size == 20)
  }

  test("batched greedy is bit-identical to the reference over a rich random vocabulary") {
    // The r13 batched-greedy learner accepts several merges per
    // cluster scan when provably exact; this corpus is built to stress
    // the validity rule — a large random vocabulary (ties, shared
    // symbols between consecutive top pairs, merged-symbol collisions)
    // across 60 merges, where any over-eager batch diverges from the
    // strictly-sequential reference immediately.
    val rnd = new scala.util.Random(12345)
    val alphabet = "abcdefgh"
    val vocab = (1 to 3000).map { _ =>
      (1 to (2 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val docs = (1 to 6000).map { _ =>
      (1 to 12).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toDF("text")
    val words = Bpe.wordFreq(docs, "text")
    val merges = Bpe.learnMerges(words, numMerges = 60)
    val dict = words.select(col("word"), col("wcount"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val ref = Bpe.referenceLearn(dict, numMerges = 60)
    assert(merges == ref,
      s"diverged at ${merges.zip(ref).indexWhere(p => p._1 != p._2)}:\n" +
        s" spark=${merges.take(8)}\n ref=  ${ref.take(8)}")
    assert(merges.size == 60)
  }

  test("a count table wider than the top-pair window stays identical to the reference") {
    // >100 symbols make the pair table far wider than the 4,096 rows a
    // scan brings to the driver, so every early scan is truncated and
    // acceptance runs through the tail-frequency bound
    val alphabet = ('a' to 'z') ++ ('0' to '9') ++ ('à' to 'þ').filter(_ != '÷') ++
      ('α' to 'ω').filter(_ != 'ς') ++ ('а' to 'я')
    val rnd = new scala.util.Random(4096)
    val vocab = (1 to 4000).map { _ =>
      (1 to (3 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    // skewed word frequencies: low ranks repeat far more often
    val docs = (1 to 3000).map { _ =>
      (1 to 10).map(_ => vocab(rnd.nextInt(1 + rnd.nextInt(vocab.size)))).mkString(" ")
    }.toDF("text")
    val words = Bpe.wordFreq(docs, "text").pin
    val dict = words.select(col("word"), col("wcount"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val pairs = dict.flatMap { case (w, _) =>
      val syms = w.map(_.toString) :+ Bpe.EndOfWord
      syms.zip(syms.tail)
    }.distinct
    assert(alphabet.size >= 100 && pairs.size > 4096, s"${pairs.size} distinct pairs")
    val merges = Bpe.learnMerges(words, numMerges = 40)
    val ref = Bpe.referenceLearn(dict, numMerges = 40)
    assert(merges == ref,
      s"diverged at ${merges.zip(ref).indexWhere(p => p._1 != p._2)}:\n" +
        s" spark=${merges.take(8)}\n ref=  ${ref.take(8)}")
    assert(merges.size == 40)
  }

  test("learnMerges runs at most one job per scan plus one per materialization") {
    // one 12-letter word: every top pair overlaps the next, so each
    // scan accepts exactly one merge — 10 merges are 10 scans, and the
    // dict is materialized twice (the pin, and once after 8 merges)
    val words = Bpe.wordFreq(Seq.fill(5)("abcdefghijkl").toDF("text"), "text").pin
    val (merges, jobs) = SparkJobs.count(spark.sparkContext)(
      Bpe.learnMerges(words, numMerges = 10))
    assert(merges == Bpe.referenceLearn(Seq("abcdefghijkl" -> 5L), numMerges = 10))
    assert(merges.map(_.left).last == "abcdefghij")
    assert(jobs <= 10 + 2, s"$jobs jobs for 10 scans")
  }

  test("greedy left-to-right merge handles overlapping runs") {
    // 'aaaa' with merge (a,a): non-overlapping left-to-right -> [aa][aa]
    val df = Seq.fill(3)("aaaa").toDF("text")
    val words = Bpe.wordFreq(df, "text")
    val merges = Bpe.learnMerges(words, numMerges = 2)
    assert(merges.head.left == "a" && merges.head.right == "a")
    // 3 words x 3 adjacent 'a a' pairs = 9
    assert(merges.head.freq == 9L)
    // second round: every word is [aa, aa, </w>] -> (aa,aa) x3 ties
    // (aa,</w>) x3; '<' sorts before 'a', so the tie-break takes
    // (aa, </w>) — locked here because the gate's cross-path identity
    // depends on both implementations agreeing on exactly this rule
    assert(merges(1).left == "aa" && merges(1).right == Bpe.EndOfWord &&
      merges(1).freq == 3L, s"got ${merges(1)}")
  }

  test("encode applies learned merges and counts tokens") {
    val corpus = Seq.fill(5)("low low newest").toDF("text")
    val merges = Bpe.learnMerges(Bpe.wordFreq(corpus, "text"), numMerges = 4)
    val enc = Bpe.encode(
        Seq((1L, "low newest unknown")).toDF("doc_id", "text"), "text", merges)
      .select(col("bpe_tokens"), col("n_bpe_tokens"))
      .as[(Seq[String], Long)].head()
    // whatever the learned merges, re-joining tokens must reproduce the
    // source words with </w> marking word ends
    val rejoined = enc._1.mkString("")
      .replace(Bpe.EndOfWord, " ").trim
    assert(rejoined == "low newest unknown", s"got ${enc._1}")
    assert(enc._2 == enc._1.size.toLong)
  }

  test("encode reassembles tokens in word order per id, empties included") {
    // multi-word docs + an empty doc: the id-keyed reassembly (r17)
    // must keep every input row, order pieces by word position, and
    // give empty docs an empty token array
    val corpus = Seq.fill(3)("aa bb aa").toDF("text")
    val merges = Bpe.learnMerges(Bpe.wordFreq(corpus, "text"), numMerges = 2)
    val enc = Bpe.encode(
        Seq((10L, "bb aa"), (11L, ""), (12L, "aa aa bb")).toDF("doc_id", "text"),
        "text", merges)
      .select(col("doc_id"), col("bpe_tokens"), col("n_bpe_tokens"))
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1)
    assert(enc.length == 3)
    val byId = enc.map(e => e._1 -> e).toMap
    assert(byId(11L)._2.isEmpty && byId(11L)._3 == 0L, s"got ${byId(11L)}")
    def rejoin(t: Seq[String]) = t.mkString("").replace(Bpe.EndOfWord, " ").trim
    assert(rejoin(byId(10L)._2) == "bb aa", s"got ${byId(10L)._2}")
    assert(rejoin(byId(12L)._2) == "aa aa bb", s"got ${byId(12L)._2}")
    enc.foreach(e => assert(e._3 == e._2.size.toLong))
  }
}
