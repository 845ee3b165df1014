package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Checkpoints
import graft.core.Checkpoints.Pins

/** core/Checkpoints: the local-checkpoint branch (what a local master
  * gets) and the lineage-keeping branch (any other master, forced here
  * through `Checkpoints.keepLineage`) pin the same rows at the same
  * job cost, and both are released by the same persisted-RDD diff. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def sc = spark.sparkContext

  /** `body` under the local branch, then under the lineage-keeping one. */
  private def bothBranches[T](body: => T): Seq[(String, T)] =
    Seq("local" -> body, "lineage" -> Checkpoints.keepLineage.withValue(true)(body))

  // narrow: preparing its plan runs no job, so a lazy pin's 0 is exact
  private def frame: DataFrame = spark.range(0, 400, 1, 4)
    .select(col("id"), (col("id") % 7).as("k"), concat(lit("r"), col("id")).as("s"))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  private def pinsLeft[T](body: => T): (T, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, sc.getPersistentRDDs.keySet.diff(before).toSet)
  }

  test("both branches pin identical rows: an eager pin runs 1 job, a lazy pin 0 until read") {
    val expected = rows(frame)
    bothBranches {
      val (eager, eagerJobs) = SparkJobs.count(sc)(frame.pin)
      val (lazyPin, lazyJobs) = SparkJobs.count(sc)(frame.pinLazily)
      (rows(eager), eagerJobs, rows(lazyPin), lazyJobs)
    }.foreach { case (branch, (eagerRows, eagerJobs, lazyRows, lazyJobs)) =>
      assert(eagerRows == expected, s"$branch eager rows")
      assert(lazyRows == expected, s"$branch lazy rows")
      assert(eagerJobs == 1, s"$branch eager pin ran $eagerJobs jobs")
      assert(lazyJobs == 0, s"$branch lazy pin ran $lazyJobs jobs")
    }
  }

  test("only the local branch truncates lineage; a released lineage pin still reads its rows") {
    val expected = rows(frame)
    bothBranches {
      val ((pinned, release), ids) = pinsLeft(Checkpoints.persistedDuring(sc)(frame.pin))
      val truncated = ids.map(sc.getPersistentRDDs(_).isCheckpointed)
      release()
      (pinned, ids, truncated, ids.intersect(sc.getPersistentRDDs.keySet.toSet))
    }.foreach { case (branch, (pinned, ids, truncated, kept)) =>
      assert(ids.size == 1, s"$branch pin registered RDDs $ids")
      assert(truncated == Set(branch == "local"), s"$branch lineage truncated: $truncated")
      assert(kept.isEmpty, s"$branch release left $kept persisted")
      if (branch == "lineage") assert(rows(pinned) == expected, "released lineage pin rows")
    }
  }

  test("a scoped pin leaves no persistent RDD behind, also when its body throws") {
    bothBranches {
      val (n, left) = pinsLeft(frame.withPin(_.count()))
      val (_, leftOnThrow) = pinsLeft(
        intercept[IllegalStateException](frame.withPin(_ => throw new IllegalStateException("x"))))
      val (_, leftByDiff) = pinsLeft(intercept[IllegalStateException](
        Checkpoints.persistedDuring(sc) { frame.pinLazily; throw new IllegalStateException("y") }))
      (n, left, leftOnThrow, leftByDiff)
    }.foreach { case (branch, (n, left, leftOnThrow, leftByDiff)) =>
      assert(n == 400L)
      assert(left.isEmpty, s"$branch scoped pin left $left")
      assert(leftOnThrow.isEmpty, s"$branch scoped pin left $leftOnThrow after a throw")
      assert(leftByDiff.isEmpty, s"$branch persistedDuring left $leftByDiff after a throw")
    }
  }

  test("a pin plans like Dataset.localCheckpoint: same leaf, partitioning and ordering") {
    // expression and plan ids differ run to run; the operators must not
    def shape(df: DataFrame): String = df.groupBy(col("k")).agg(max(col("id")))
      .queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "")
    val sources = Seq(
      frame.repartition(4, col("k")),
      frame.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")))
    sources.foreach { src =>
      val spark = shape(src.localCheckpoint(true))
      bothBranches(shape(src.pin)).foreach { case (branch, plan) =>
        assert(plan == spark, s"$branch pin plans differently:\n$plan\nvs localCheckpoint:\n$spark")
        assert(plan.contains("Scan ExistingRDD"), plan)
      }
    }
  }
}
