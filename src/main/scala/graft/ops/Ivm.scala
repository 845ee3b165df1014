package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.Pins

/** Incremental view maintenance for keyed count/sum aggregates: keep a
  * materialized `GROUP BY` result current from row-level DELTAS
  * (added, removed) instead of recomputing over the table — the only
  * viable shape at 100 TB, where a dashboard aggregate over a table
  * taking daily 0.1% updates must cost O(delta), not O(table).
  *
  * Count and sum are self-decomposable (Δview = view ⊎ agg(added) ⊖
  * agg(removed)); avg derives as sum/count downstream. MIN/MAX are NOT
  * maintainable from deltas alone (a removed minimum forces a rescan)
  * and are deliberately absent.
  *
  * Scale shape: maintenance is one union of three pre-aggregated
  * frames followed by one keyed aggregation — the deltas two-phase
  * aggregate down to group granularity map-side before the shuffle, so
  * the shuffle carries O(|touched groups|), and the old view rides
  * through partition-aligned (same hash key). Groups whose live row
  * count reaches zero are dropped, so the view never accumulates
  * tombstones. Pairs with `TableStore.diff`, which reads only CHANGED
  * files between two versions: view maintenance cost tracks the
  * commit's footprint end-to-end.
  */
object Ivm {
  private def stateCols(sums: Seq[String]): Seq[Column] =
    col("view_n") +: sums.map(c => col(s"view_sum_$c"))

  /** Materialize the initial view state: keys → (view_n, view_sum_<c>…). */
  def init(rows: DataFrame, keys: Seq[String], sums: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("view_n"),
        sums.map(c => sum(col(c)).as(s"view_sum_$c")): _*)

  /** Exactly-once, resumable store-to-store view maintenance: catch a
    * PERSISTED aggregate view up to the source store's head, applying
    * each source commit's diff through [[maintain]] and recording the
    * applied source version in the target's transaction marker — the
    * derived-table orchestration loop (cron it, call it after each
    * ingest, or retry it after a crash; all are safe):
    *
    *   - bootstrap: no marker → [[init]] over the source head;
    *   - catch-up: one [[maintain]] per source commit in
    *     (applied, head] — cost tracks the commits' diff footprint,
    *     not the source size (the 100 TB property);
    *   - commit: the new view snapshot REPLACES the target atomically
    *     with the head version in the marker (`replaceOnce` — view
    *     tables are group-cardinality-sized, so a snapshot rewrite
    *     beats merge bookkeeping, and group-drops become plain row
    *     absence with no tombstone handling);
    *   - idempotent: a concurrent/replayed sync sees the marker and
    *     no-ops; a crash before the commit leaves the marker at the
    *     old version, so the retry replays the same diffs onto the
    *     same old view — convergent.
    *
    * Returns true when a new snapshot was committed. `keys.head` must
    * be the target store's id column. */
  def syncStore(source: graft.core.TableStore, target: graft.core.TableStore,
                appId: String, keys: Seq[String], sums: Seq[String]): Boolean = {
    val head = source.versions.max
    val applied = target.lastTxn(appId)
    if (applied.exists(_ >= head)) return false
    val view = applied match {
      case None => init(source.readVersion(head), keys, sums)
      case Some(last) =>
        val steps = source.versions.filter(_ > last).sorted
        var cur = target.read
          .select((keys.map(col) ++ stateCols(sums)): _*)
        (last +: steps).zip(steps).foreach { case (a, b) =>
          val (add, rem) = source.diff(a, b)
          // lazy plan barrier: the final replaceOnce write
          // materializes every leg in one job; eager pins cost one
          // mostly-idle job per commit caught up
          cur = maintain(cur, add, rem, keys, sums).pinLazily
        }
        cur
    }
    target.replaceOnce(appId, head, view)
  }

  /** Advance `view` by one commit's row-level delta. `added`/`removed`
    * are row frames (the two sides of `TableStore.diff`); either may be
    * empty. Result has `init`'s schema. */
  def maintain(view: DataFrame, added: DataFrame, removed: DataFrame,
               keys: Seq[String], sums: Seq[String]): DataFrame = {
    def deltaAgg(rows: DataFrame, sign: Int): DataFrame =
      rows.groupBy(keys.map(col): _*)
        .agg((count(lit(1)) * sign).as("view_n"),
          sums.map(c => (coalesce(sum(col(c)), lit(0.0)) * sign).as(s"view_sum_$c")): _*)
    view.select((keys.map(col) ++ stateCols(sums)): _*)
      .unionByName(deltaAgg(added, 1))
      .unionByName(deltaAgg(removed, -1))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("view_n")).as("view_n"),
        sums.map(c => sum(col(s"view_sum_$c")).as(s"view_sum_$c")): _*)
      .filter(col("view_n") > 0)
  }
}
