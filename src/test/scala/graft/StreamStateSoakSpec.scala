package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** RocksDB state store for graft's stateful streams: the default
  * HDFS-backed provider keeps every keyed-state entry on executor heap,
  * which cannot hold a 100 TB-scale keyspace; Spark's
  * `spark.sql.streaming.stateStore.providerClass` moves them onto the
  * RocksDB provider. This spec proves (1) a SOAK: a 300k-distinct-key
  * dedup state across micro-batches actually running ON RocksDB
  * (provider-specific progress metrics present) with exact results,
  * (2) provider equivalence: the same stateful query emits identical
  * results under both providers — the state store is an execution
  * detail, never a semantics change. */
class StreamStateSoakSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def cloned() =
    org.apache.spark.sql.graft.CatalystBridge.isolatedCopy(spark)
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("soak: 300k-key cross-batch dedup state runs ON RocksDB, exact results") {
    val s = cloned()
    s.conf.set(providerKey, rocksDb)
    import s.implicits._
    implicit val sql = s.sqlContext
    val mem = MemoryStream[Long]
    val dedup = StreamOps.dedupStream(
      mem.toDF().select(col("value").as("k")), Seq("k"))
    val ckpt = graft.core.TempDirs.createFast("graft_soak_ckpt_")
    val q = dedup.writeStream.format("memory").queryName("soak_rocks")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // every key arrives twice, split across micro-batches, so the
      // second batch dedups ONLY through persisted provider state
      mem.addData(0L until 300000L: _*)
      q.processAllAvailable()
      mem.addData(0L until 300000L: _*)
      q.processAllAvailable()
      assert(s.table("soak_rocks").count() == 300000L,
        "cross-batch dedup must emit each of the 300k keys exactly once")
      // prove the state actually lived in RocksDB, not silently on the
      // default provider: the provider publishes rocksdb* custom metrics
      val custom = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet.toArray.map(_.toString))
      assert(custom.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb custom metrics in progress — provider not active: " +
          custom.take(5).mkString(","))
    } finally {
      q.stop()
      graft.core.TempDirs.delete(ckpt)
    }
  }

  test("provider equivalence: heavy hitters emits identical results on both stores") {
    def run(useRocks: Boolean): Set[(Int, Long, String, Long)] = {
      val s = cloned()
      if (useRocks) s.conf.set(providerKey, rocksDb)
      import s.implicits._
      implicit val sql = s.sqlContext
      val mem = MemoryStream[String]
      val name = if (useRocks) "hh_rocks" else "hh_heap"
      val hh = StreamOps.heavyHittersStream(
        mem.toDF().withColumnRenamed("value", "k"), "k",
        nShards = 2, capacity = 64)
      val ckpt = graft.core.TempDirs.createFast("graft_hh_ckpt_")
      val q = hh.writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", ckpt).start()
      try {
        mem.addData((1 to 2000).map(i => s"u${i % 50}"): _*)
        q.processAllAvailable()
        mem.addData((1 to 2000).map(i => s"u${i % 37}"): _*)
        q.processAllAvailable()
        s.table(name).as[(Int, Long, String, Long)].collect().toSet
      } finally {
        q.stop()
        graft.core.TempDirs.delete(ckpt)
      }
    }
    val heap = run(useRocks = false)
    val rocks = run(useRocks = true)
    assert(heap == rocks,
      s"provider changed results: heap ${heap.size} rows vs rocks ${rocks.size}")
  }
}
