package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.StorageLevel
import scala.util.DynamicVariable

/** The one place that pins a frame: materializes its rows once so
  * every later consumer reads stored blocks instead of re-running the
  * upstream plan, and cuts the plan a consumer sees to a
  * `Scan ExistingRDD` leaf with the source's partitioning and ordering.
  *
  * The SparkContext's master picks how a pin stores its rows:
  *   - local master (`sc.isLocal`): a local checkpoint. Blocks live in
  *     the one JVM and lineage is truncated, so each later job's stage
  *     graph stops at the pin. Keeping lineage on a local master
  *     measured slower in two ten-pair perfbench A/Bs of `pipeline_ops`
  *     on 4 cores: ops_per_s ×0.93 and ×0.86, latency_p50_ms ×1.08 and
  *     ×1.21 against local checkpoints (the benchmark's bound is 1.25).
  *   - any other master: `persist(MEMORY_AND_DISK)` with lineage kept,
  *     so a lost executor's blocks can be recomputed instead of
  *     aborting the query (untested: no spec kills an executor yet).
  * Both branches mark the same internal RDD; no CacheManager entry is
  * registered, so nothing outlives the frame except its blocks, which
  * the ContextCleaner reclaims once the frame is unreferenced.
  *
  * `Dataset.unpersist()` does not reach those blocks (the frame is a
  * plan over the RDD, not a cached plan). A caller that consumes a pin
  * in scope frees it with [[Pins.withPin]] or, for pins that outlive a
  * block (fixed-point rounds), with [[persistedDuring]]'s thunk.
  */
object Checkpoints {

  implicit class Pins(private val df: DataFrame) extends AnyVal {

    /** Pinned now: one job stores every partition. */
    def pin: DataFrame = mark(df, eager = true)

    /** Pinned by the first job that reads it; no job here (AQE still
      * runs the frame's own shuffle stages when its plan is prepared). */
    def pinLazily: DataFrame = mark(df, eager = false)

    /** `body` over the pinned frame; the pin is released when `body`
      * returns or throws. */
    def withPin[T](body: DataFrame => T): T = {
      val (pinned, release) = persistedDuring(df.sparkSession.sparkContext)(pin)
      try body(pinned) finally release()
    }
  }

  /** Runs `body` and returns its result with a thunk that unpersists
    * every RDD registered as persistent during the call. A pin's RDD
    * registers when it is marked, lazy pins included, so this diff is
    * how pins are released. If `body` throws, what it registered is
    * released before the exception propagates. A concurrent persist
    * from another thread can land in the captured set; releasing it
    * costs that thread a recompute (lineage kept) or a failed read
    * (local checkpoint), never a wrong row, so wrap only work whose
    * pins are its own. */
  def persistedDuring[T](sc: SparkContext)(body: => T): (T, () => Unit) = {
    val before = sc.getPersistentRDDs.keySet
    def fresh = sc.getPersistentRDDs.keySet.diff(before)
    def release(ids: collection.Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val out = try body catch { case e: Throwable => release(fresh); throw e }
    val registered = fresh
    (out, () => release(registered))
  }

  /** Forces the lineage-keeping branch on a local master, for tests. */
  private[graft] val keepLineage = new DynamicVariable(false)

  private def mark(df: DataFrame, eager: Boolean): DataFrame =
    CatalystBridge.pinned(df, eager) { rdd =>
      if (keepLineage.value || !rdd.sparkContext.isLocal) rdd.persist(StorageLevel.MEMORY_AND_DISK)
      else rdd.localCheckpoint()
    }
}
