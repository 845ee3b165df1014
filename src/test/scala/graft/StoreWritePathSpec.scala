package graft

import java.util.concurrent.atomic.AtomicLong
import scala.annotation.meta.field
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.annotations.Id
import graft.cep.EventProcessor
import graft.core.{GraftSession, TableStore, TempDirs}

case class WritePoint(@(Id @field) id: Long, v: String)

/** Consumes and deletes every match, counting callback invocations. */
object CountingConsumer extends EventProcessor {
  val calls = new AtomicLong()
  def process(row: Row): Boolean = { calls.incrementAndGet(); true }
  def delete(): Boolean = true
}

/** The two write paths of a keyed persist — a driver-local batch (keys
  * taken on the driver, IN-filter rewrite, one file) and a distributed
  * frame (aggregate pruning, anti-join rewrite, its own partitioning) —
  * leave identical stores; the local path costs one Spark job. */
class StoreWritePathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def store(): TableStore =
    new TableStore(spark, TempDirs.create("graft_write_path_"), "id")

  private def jobsOf[T](body: => T): (T, Int) = SparkJobs.count(spark.sparkContext)(body)

  /** `body`'s result and the persistent RDDs it left registered. */
  private def pinsLeft[T](body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, sc.getPersistentRDDs.keySet.diff(before).toSet)
  }

  private def contents(st: TableStore): (Seq[String], Seq[String]) = {
    val df = st.read
    (df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}"),
      df.collect().toSeq.map(_.toString).sorted)
  }

  /** Upsert every batch into two stores, one as the local frame and one
    * repartitioned, then compare the stores row for row. */
  private def assertSamePaths(batches: Seq[DataFrame]): Unit = {
    val (local, distributed) = (store(), store())
    batches.foreach { b =>
      local.upsert(b)
      distributed.upsert(b.repartition(2))
      assert(contents(local) == contents(distributed))
    }
  }

  test("local and distributed upserts agree: inserts, updates, NULL and duplicate ids, empty batch, added column") {
    assertSamePaths(Seq(
      Seq((Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"), (None, "null-in-store"))
        .toDF("id", "v"),
      // updates 2 and 3, inserts 4, a NULL id and a duplicated new id
      Seq((Some(2L), "b2"), (Some(3L), "c2"), (Some(4L), "d"), (None, "null-in-batch"),
        (Some(5L), "e"), (Some(5L), "e-dup")).toDF("id", "v"),
      Seq.empty[(Option[Long], String)].toDF("id", "v"),
      // adds nullable n; updates 1 and inserts 6
      Seq((Some(1L), "a2", 10), (Some(6L), "f", 60)).toDF("id", "v", "n"),
      // updates a duplicated id again, and an id across the file ranges
      Seq((Some(5L), "e2"), (Some(100L), "far")).toDF("id", "v")))
  }

  test("local and distributed upserts agree on string ids") {
    assertSamePaths(Seq(
      Seq(("k1", 1), ("k2", 2), (null, 0)).toDF("id", "x"),
      Seq(("k2", 20), ("k3", 3), ("k3", 33), (null, -1)).toDF("id", "x"),
      Seq.empty[(String, Int)].toDF("id", "x"),
      Seq(("k1", 10)).toDF("id", "x")))
  }

  test("persist of a local update batch and find each run one Spark job") {
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[WritePoint]("write_path_jobs", TempDirs.create("graft_write_jobs_"))
    tt.persist((1L to 100L).map(i => WritePoint(i, s"v$i")))
    val (_, persistJobs) = jobsOf(tt.persist((90L to 110L).map(i => WritePoint(i, s"u$i"))))
    assert(persistJobs == 1)
    val (found, findJobs) = jobsOf(tt.find(95L))
    assert(found.contains(WritePoint(95L, "u95")))
    assert(findJobs == 1)
  }

  test("a 100-row local persist commits one file; a repartitioned append keeps its partitioning") {
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[WritePoint]("write_path_files", TempDirs.create("graft_write_files_"))
    tt.persist((1L to 100L).map(i => WritePoint(i, s"v$i")))
    assert(tt.store.fileIdRanges == Seq((Some(1L), Some(100L))))
    tt.store.append((101L to 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    assert(tt.store.fileIdRanges.size == 5)
  }

  test("batch PROCESS releases its consumed cache and runs the callback once per match") {
    val st = store()
    st.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    CountingConsumer.calls.set(0L)
    val (res, left) = pinsLeft(st.process(col("id") <= 3L, CountingConsumer))
    assert(left.isEmpty, "PROCESS left a persistent RDD")
    assert(res.processed == 3 && CountingConsumer.calls.get == 3)
    assert(res.retained.select("id").as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    assert(CountingConsumer.calls.get == 3, "reading retained re-ran the callback")
    assert(st.read.count() == 3)
  }

  test("checked, quarantine and merge writes release the batch they pin") {
    val st = store()
    st.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    val checks = Seq("v set" -> col("v").isNotNull)
    val (_, checked) = pinsLeft(
      st.appendChecked((7L to 8L).map(i => (i, s"v$i")).toDF("id", "v"), checks))
    assert(checked.isEmpty, "appendChecked left a persistent RDD")
    val quarantine = store()
    val (counts, quarantined) = pinsLeft(st.appendQuarantine(
      Seq((9L, "v9"), (10L, null)).toDF("id", "v"), checks, quarantine))
    assert(counts == ((1L, 1L)))
    assert(quarantined.isEmpty, "appendQuarantine left a persistent RDD")
    val (_, merged) = pinsLeft(st.merge(Seq((2L, "m2"), (11L, "v11")).toDF("id", "v"),
      matchedUpdate = Map("v" -> col("s.v"))))
    assert(merged.isEmpty, "merge left a persistent RDD")
    assert(st.read.count() == 10L && st.find(2L).head.getString(1) == "m2")
  }
}
