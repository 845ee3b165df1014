package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import graft.core.{GraftSession, TableStore, TempDirs}

/** The table-is-a-queue stream reads the store's version log: only
  * committed files are delivered, each commit arrives whole inside one
  * micro-batch, and a query resumes from its checkpoint's version. */
class StoreStreamIsolationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Start a `foreachBatch` query over `stream` that records the ids of
    * every non-empty micro-batch (one entry per batch) into `out`. */
  private def recordIds(stream: DataFrame, ckpt: String,
                        out: ConcurrentLinkedQueue[Seq[Long]],
                        triggerMs: Long = 100L): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.select("id").as[Long].collect().toSeq
        if (ids.nonEmpty) out.add(ids)
        ()
      }
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", ckpt)
      .start()

  test("stream readers never see uncommitted files in files/") {
    val dir = TempDirs.create("graft_stream_iso_")
    val st = new TableStore(spark, dir, "id")
    st.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))

    // simulate a crashed append: a well-formed data file reaches
    // files/ but its commit never happens
    val orphanSrc = TempDirs.create("graft_stream_iso_orphan_")
    Seq((99L, "orphan")).toDF("id", "tag").coalesce(1).write.mode("overwrite").parquet(orphanSrc)
    val part = new java.io.File(orphanSrc).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/files/zz-orphan-${part.getName}"))

    val ckpt = TempDirs.create("graft_stream_iso_ckpt_")
    val q = st.readStream.writeStream.format("memory").queryName("iso_t")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val backlog = spark.table("iso_t").select("id").as[Long].collect().sorted
      assert(backlog.toSeq == Seq(1L, 2L),
        s"stream delivered uncommitted rows: ${backlog.toSeq}")

      // tail: a committed append arrives; the orphan still does not
      st.append(Seq((3L, "c")).toDF("id", "tag"))
      q.processAllAvailable()
      val all = spark.table("iso_t").select("id").as[Long].collect().sorted
      assert(all.toSeq == Seq(1L, 2L, 3L), s"tail wrong: ${all.toSeq}")
    } finally q.stop()
  }

  test("each commit reaches a stream reader in one micro-batch") {
    val dir = TempDirs.create("graft_stream_whole_")
    val st = new TableStore(spark, dir, "id")
    st.initialize(Seq((0L, 0L)).toDF("id", "v").schema)
    val gs = new GraftSession(spark)
    gs.registerStore("whole_t", st)
    val window = "count(t.v) c, sum(t.v) s from whole_t t window by t.id interval = 5"

    val batches = new ConcurrentLinkedQueue[Seq[Long]]()
    val q1 = recordIds(st.readStream, TempDirs.create("graft_stream_whole_ck1_"),
      batches, triggerMs = 10L)
    val q2 = gs.executeStreamPlan(s"select stream t.id i, $window")
      .writeStream.format("memory").queryName("whole_window")
      .option("checkpointLocation", TempDirs.create("graft_stream_whole_ck2_"))
      .trigger(Trigger.ProcessingTime(10L)).start()
    val commits = 12
    val perCommit = 40
    try {
      for (k <- 0 until commits) {
        val ids = (k * perCommit + 1L) to ((k + 1) * perCommit).toLong
        // four files per commit, so a partial commit would be visible
        st.append(ids.map(i => (i, i % 7)).toDF("id", "v").repartition(4))
        Thread.sleep(15)
      }
      q1.processAllAvailable()
      q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }

    val dataFiles = new java.io.File(s"$dir/files").listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles == commits * 4, s"expected four files per commit, found $dataFiles")
    val got = batches.asScala.toSeq
    val all = got.flatten
    assert(all.sorted == (1L to commits.toLong * perCommit),
      s"not every committed row arrived exactly once: ${all.size} rows")
    for (k <- 0 until commits) {
      val lo = k * perCommit + 1L
      val hi = (k + 1L) * perCommit
      val holding = got.count(_.exists(i => i >= lo && i <= hi))
      assert(holding == 1, s"commit $k (ids $lo..$hi) arrived split across $holding micro-batches")
    }

    val streamed = spark.table("whole_window").collect().map(_.toSeq).toSet
    val batch = gs.execute(s"select t.id i, $window").collect().map(_.toSeq).toSet
    assert(batch.size == commits * perCommit - 4, s"batch WINDOW BY emitted ${batch.size} rows")
    assert(streamed == batch,
      s"streamed WINDOW BY differs from the batch statement: " +
        s"${(streamed diff batch).take(5)} vs ${(batch diff streamed).take(5)}")
  }

  test("store stream resumes from its checkpoint") {
    val dir = TempDirs.create("graft_stream_resume_")
    val st = new TableStore(spark, dir, "id")
    st.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    val ckpt = TempDirs.create("graft_stream_resume_ck_")

    val first = new ConcurrentLinkedQueue[Seq[Long]]()
    val q1 = recordIds(st.readStream, ckpt, first)
    try q1.processAllAvailable() finally q1.stop()
    assert(first.asScala.toSeq.flatten.sorted == Seq(1L, 2L, 3L))

    // appended while nothing runs: the restarted query delivers only these
    st.append(Seq((4L, "d"), (5L, "e")).toDF("id", "tag"))
    st.append(Seq((6L, "f")).toDF("id", "tag"))
    val second = new ConcurrentLinkedQueue[Seq[Long]]()
    val q2 = recordIds(st.readStream, ckpt, second)
    try q2.processAllAvailable() finally q2.stop()
    assert(second.asScala.toSeq.flatten.sorted == Seq(4L, 5L, 6L),
      s"resume re-delivered or lost rows: ${second.asScala.toSeq.flatten}")

    // a checkpointed version that vacuum dropped fails with the version named
    st.append(Seq((7L, "g")).toDF("id", "tag"))
    st.vacuum(0L)
    val q3 = recordIds(st.readStream, ckpt, new ConcurrentLinkedQueue[Seq[Long]]())
    val err = try { intercept[StreamingQueryException](q3.processAllAvailable()) } finally q3.stop()
    assert(err.getMessage.matches("(?s).*version \\d+ not present at .*"), err.getMessage)
  }
}
