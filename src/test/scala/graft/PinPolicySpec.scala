package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Checkpoints, TableStore, TempDirs}
import graft.ops.{Bpe, Dedup, Ivm, TimeSeries}

/** The operators whose pins matter most give identical results when
  * every pin keeps lineage (the policy of a non-local master) and when
  * every pin is a local checkpoint (the local-master policy). */
class PinPolicySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `op`'s rows under the local branch and under the lineage branch. */
  private def assertSameUnderBothPolicies(op: => Seq[String]): Unit = {
    val local = op
    val lineage = Checkpoints.keepLineage.withValue(true)(op)
    assert(local.nonEmpty, "the operator returned nothing to compare")
    assert(lineage == local)
  }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bend",
    "pack my box with five dozen liquor jugs before the train leaves",
    "pack my box with five dozen liquor jugs before the train departs",
    "an entirely different sentence about spark pins and lineage")

  test("Dedup.connectedComponents") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    assertSameUnderBothPolicies(sorted(Dedup.connectedComponents(pairs, "a", "b")))
  }

  test("Dedup.minhashCandidates") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    assertSameUnderBothPolicies(sorted(Dedup.minhashCandidates(docs, "id", "text", bands = 32)))
  }

  test("Bpe.encode") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(Bpe.wordFreq(docs, "text"), numMerges = 12)
    assertSameUnderBothPolicies(sorted(Bpe.encode(docs, "text", merges)))
  }

  test("Ivm.syncStore catches a view up over a chain of commits") {
    assertSameUnderBothPolicies {
      val base = TempDirs.create("graft_pinpolicy_ivm_")
      val src = new TableStore(spark, s"$base/src", "id")
      val tgt = new TableStore(spark, s"$base/view", "k")
      val rows = (1L to 40L).map(i => (i, i % 3, i.toDouble)).toDF("id", "k", "v")
      src.append(rows.filter(col("id") <= 20L))
      assert(Ivm.syncStore(src, tgt, "view", Seq("k"), Seq("v")))
      src.append(rows.filter(col("id") > 20L))
      src.upsert(rows.filter(col("id") % 5 === 0).withColumn("v", col("v") + 100.0))
      src.delete(col("id") % 7 === 0)
      assert(Ivm.syncStore(src, tgt, "view", Seq("k"), Seq("v")))
      sorted(tgt.read)
    }
  }

  test("TimeSeries.funnel") {
    val events = Seq(
      (1L, 1L, "signup"), (1L, 2L, "view"), (1L, 3L, "buy"),
      (2L, 1L, "signup"), (2L, 5L, "view"),
      (3L, 2L, "signup"), (3L, 2L, "view"), (3L, 4L, "view"), (3L, 6L, "buy"),
      (4L, 9L, "view")).toDF("user", "ts", "type")
    assertSameUnderBothPolicies(
      sorted(TimeSeries.funnel(events, "user", "ts", "type", Seq("signup", "view", "buy"))))
  }

  test("TableStore.appendChecked") {
    assertSameUnderBothPolicies {
      val st = new TableStore(spark, TempDirs.create("graft_pinpolicy_checked_"), "id")
      val checks = Seq("v_present" -> col("v").isNotNull)
      st.appendChecked((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), checks, Some("id"))
      intercept[IllegalArgumentException](
        st.appendChecked(Seq((7L, null: String)).toDF("id", "v"), checks))
      st.read.collect().toSeq.map { case Row(id: Long, v: String) => s"$id=$v" }.sorted
    }
  }
}
