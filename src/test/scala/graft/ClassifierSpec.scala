package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Classifier, TextAnalysis}
import graft.functions.CompressFunctions

class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("batch perceptron separates a linearly separable concept exactly") {
    // concept: +1 iff 'good' appears; filler tokens are shared noise
    val docs = (0 until 80).map { i =>
      val filler = Seq("alpha", "beta", "gamma", "delta").take(1 + i % 4)
      val toks = if (i % 2 == 0) "good" +: filler else "bad" +: filler
      (i.toLong, toks.mkString(" "), if (i % 2 == 0) 1L else -1L)
    }
    val df = docs.toDF("id", "text", "y")
    val m = Classifier.fitBatch(df, "text", "y", dims = 64, epochs = 30)
    val acc = df.withColumn("p", m.predict(col("text")))
      .filter(col("p") * col("y") > 0).count()
    assert(acc == 80L, s"separable concept not fully learned: $acc/80")
  }

  test("distributed fit is bit-identical to the driver-side reference") {
    val docs = (0 until 120).map { i =>
      val words = Seq.tabulate(5 + i % 7)(j => s"w${(i * 31 + j * 17) % 23}")
      (i.toLong, words.mkString(" "), if ((i * 7) % 3 == 0) 1L else -1L)
    }
    val df = docs.toDF("id", "text", "y")
    val m = Classifier.fitBatch(df, "text", "y", dims = 128, epochs = 12)
    val ref = Classifier.referenceFit(docs.map(d => (d._2, d._3)), 128, epochs = 12)
    assert(m.weights.sameElements(ref.weights))
    assert(m.bias == ref.bias)
    assert(m.epochsRun == ref.epochsRun)
  }

  test("fitBatch runs at most one job per epoch plus two") {
    val docs = (0 until 120).map { i =>
      val words = Seq.tabulate(5 + i % 7)(j => s"w${(i * 31 + j * 17) % 23}")
      (i.toLong, words.mkString(" "), if ((i * 7) % 3 == 0) 1L else -1L)
    }
    val df = docs.toDF("id", "text", "y")
    val epochs = 12
    val (m, jobs) = SparkJobs.count(spark.sparkContext)(
      Classifier.fitBatch(df, "text", "y", dims = 128, epochs = epochs))
    val ref = Classifier.referenceFit(docs.map(d => (d._2, d._3)), 128, epochs = epochs)
    assert(m.weights.sameElements(ref.weights) && m.bias == ref.bias)
    assert(jobs <= epochs + 2, s"$jobs jobs for $epochs epochs")
  }

  test("compression sizes satisfy format bounds and rank redundancy") {
    val rep = Seq.fill(300)("aaaa").mkString(" ")
    val mixed = (0 until 300).map(i => (i * 2654435761L).toHexString).mkString(" ")
    val rows = Seq((1L, rep), (2L, mixed), (3L, ""), (4L, "x"))
      .toDF("id", "text")
      .withColumn("cz", CompressFunctions.compressSizes(col("text")))
      .select(col("id"), col("cz.raw_bytes"), col("cz.deflate_bytes"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // empty input still emits the final empty deflate block (>0 bytes)
    assert(rows(3L)._1 == 0L && rows(3L)._2 > 0L)
    rows.values.foreach { case (raw, z) => assert(z <= raw + 64) }
    val ratio = (id: Long) => rows(id)._2.toDouble / math.max(rows(id)._1, 1L)
    assert(ratio(1L) < 0.1, s"repetitive doc ratio ${ratio(1L)}")
    assert(ratio(2L) > ratio(1L) + 0.3, "redundancy ranking lost")
  }

  test("gopher line rules fire on bulleted and ellipsis-heavy docs") {
    val bulleted = (0 until 10).map(i => s"- item $i").mkString("\n")
    val trailing = (0 until 10).map(i => s"line $i ...").mkString("\n")
    val prose = "the data table has fifty rows of value and the key is with that"
    val g = TextAnalysis.gopherRules(col("text"), minWords = 5)
    val rows = Seq((1L, bulleted), (2L, trailing), (3L, prose))
      .toDF("id", "text")
      .select(col("id"), col("text"),
        g.getField("r_bullet_lines").as("rb"),
        g.getField("r_ellipsis_lines").as("re"),
        g.getField("r_stopwords").as("rs"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(!rows(1L)._1, "all-bullet doc must fail the bullet-line rule")
    assert(rows(2L)._1 && !rows(2L)._2, "ellipsis-heavy doc must fail only the ellipsis rule")
    assert(rows(3L)._1 && rows(3L)._2 && rows(3L)._3, "plain prose passes line rules")
  }
}
