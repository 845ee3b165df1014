package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pinning seam + lazy localCheckpoint with a working "free the
  * blocks" handle.
  *
  * `Dataset.rdd` returns a DERIVED deserializing RDD, not the internal
  * RDD that `localCheckpoint` persisted — so the fixed-point loops'
  * previous `prev.rdd.unpersist(...)` calls were no-ops and every
  * round's checkpoint blocks lived until the ContextCleaner got around
  * to them (r14 ADVICE on kCore/connectedComponents). The persisted
  * RDD is registered with the SparkContext at persist-MARK time (lazy
  * checkpoints included), so diffing the context's persistent-RDD
  * registry around the `localCheckpoint` call captures exactly it.
  * `persistedDuring` is that diff; `graft.Bench` uses it too, to drop
  * the blocks each timed query pinned.
  *
  * The diff window is our own call on this thread; a concurrent
  * persist from another thread could land in the captured set, and
  * unpersisting a cached RDD is always SAFE in Spark (it recomputes),
  * so the worst interleaving costs a recompute, never correctness.
  */
object Checkpoints {

  /** Eagerly pin a multi-consumer frame so each downstream walk reads
    * materialized rows instead of re-running the upstream plan (guide
    * §2.4). ONE policy seam for every candidate-generator /
    * token-reshape pin in ops/ (r18, replaces eight scattered
    * `localCheckpoint(true)` calls):
    *
    *   - default (`spark.graft.pin.mode=local`): `localCheckpoint(true)`
    *     — zero-copy executor-block pin, the right call on `local[*]`
    *     and the behavior every committed plan/bench number was
    *     measured under ("Scan ExistingRDD" in the plans). CLUSTER
    *     CAVEAT: a local checkpoint truncates lineage and stores blocks
    *     only on executors, so losing one executor aborts the query —
    *     acceptable on a single-JVM driver, NOT at 100 TB.
    *   - `spark.graft.pin.mode=persist`: `persist(MEMORY_AND_DISK)`
    *     materialized by an eager count. Lineage is kept, so executor
    *     loss recomputes instead of aborting — the cluster-safe mode; it
    *     costs cache-manager bookkeeping and (on wide frames) columnar
    *     re-encoding, which is why it is not the local default.
    *
    * Pinned frames returned to callers inside lazy plans cannot be
    * unpersisted at a syntactic scope — block reclamation for those is
    * the ContextCleaner's (both modes keep blocks until the frame is
    * garbage-collected; every pin here is id+hash/token-scale, bytes
    * per row). Callers that DO fully consume the pin in-scope should
    * take it inside [[persistedDuring]] and call the release thunk:
    * `Dataset.unpersist()` does not free the RDD a local checkpoint
    * persisted. */
  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.pin.mode").getOrElse("local") match {
      case "persist" =>
        val out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count() // materialize the whole cache now, one job
        out
      case _ => df.localCheckpoint(eager = true)
    }

  /** `df.localCheckpoint(eager = false)` plus an unpersist thunk bound
    * to the internal RDD the checkpoint actually persisted. Call the
    * thunk once the NEXT round's frame is materialized and the
    * previous round's blocks are dead. */
  def lazyLocal(df: DataFrame): (DataFrame, () => Unit) =
    persistedDuring(df.sparkSession.sparkContext)(df.localCheckpoint(eager = false))

  /** Runs `body` and returns its result with a thunk that unpersists
    * every RDD registered as persistent during the call. */
  def persistedDuring[T](sc: SparkContext)(body: => T): (T, () => Unit) = {
    val before = sc.getPersistentRDDs.keySet
    val out = body
    val fresh = sc.getPersistentRDDs.keySet.diff(before)
    (out, () => fresh.foreach { id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
    })
  }
}
