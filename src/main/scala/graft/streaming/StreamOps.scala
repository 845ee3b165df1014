package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming counterparts of the reference's stream
  * operators (SURVEY.md §2.7).
  *
  * Reference model: every table is a queue; `SELECT STREAM` replays the
  * backlog then tail-follows new frames (sql/SQLCursor.java:339-430).
  * Spark model: `readStream` over the table's storage gives exactly
  * backlog+tail (`startingOffsets=earliest` semantics for file sources);
  * checkpointing supplies the per-session resume position the reference
  * tracks by hand (persistent/Session.java:694-700).
  */
object StreamOps {

  /** C3 — tumbling aggregation. The reference emits a group when the
    * id-ordered stream's key changes (sql/SQLGroupContainer.java:68-118);
    * Spark aggregates each key across the whole stream and revises in
    * update mode — strictly more correct for out-of-order arrival, with
    * event-time watermarking available (the reference has none, C7). */
  def tumbling(stream: DataFrame, keys: Seq[org.apache.spark.sql.Column],
               aggs: Seq[org.apache.spark.sql.Column]): DataFrame =
    stream.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Per-row stream callback (reference `StreamCallable` — deprecated
    * there in favor of PROCESS STREAM, core/StreamCallable.java,
    * persistent/Session.java:392-418; kept for surface parity). A pure
    * map over the stream: the callable's result replaces the row.
    * Unlike EventProcessor it has no delete side-effect. */
  def mapStream[T, O](stream: Dataset[T], f: T => O)(implicit eo: Encoder[O]): Dataset[O] =
    stream.map(f)

  /** C7 — event-time tumbling window with a watermark (exceeds the
    * reference, which has no event-time notion; SURVEY.md flags this as
    * needed for correctness at scale): per-key per-window state is
    * EVICTED once the watermark passes the window end, so state stays
    * bounded regardless of key cardinality — unlike a bare
    * groupBy(key).agg, whose per-key state never expires. Append mode
    * emits each window exactly once, when it finalizes. */
  def tumblingTimeWindow(stream: DataFrame, timeCol: String, duration: String,
                         watermarkDelay: String, keys: Seq[org.apache.spark.sql.Column],
                         aggs: Seq[org.apache.spark.sql.Column]): DataFrame =
    stream.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), duration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream (the lookup-table pattern — user profiles onto an event
    * stream). The static side joins fresh against EACH micro-batch
    * (Spark re-plans per batch, so a small dim broadcasts and an
    * updated dim snapshot is picked up); no streaming state at all —
    * unlike stream-stream joins there is nothing to watermark. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   joinExprs: org.apache.spark.sql.Column,
                   joinType: String = "left"): DataFrame =
    stream.join(dim, joinExprs, joinType)

  /** Stream-stream interval join: two live streams joined on a key
    * plus an event-time band (clicks within N hours before a purchase
    * — the attribution shape). Both sides carry watermarks and the
    * band bounds both event times, so Spark evicts join state once
    * the watermark passes a row's last possible match — state is
    * O(rows inside the band), independent of stream length. Inner
    * join: matches emit on arrival, so the drained result equals the
    * batch join exactly (watermarks bound STATE, not the emitted set,
    * when no data arrives later than the allowed lateness). */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         joinExprs: org.apache.spark.sql.Column,
                         joinType: String = "inner"): DataFrame =
    left.join(right, joinExprs, joinType)

  /** Streaming exact dedup: keep the first arrival per key, suppress
    * later duplicates — dedup-at-ingest for a training-data pipeline.
    * State = one entry per distinct key, held across micro-batches.
    *
    * PROJECT TO THE KEY COLUMNS before calling when only the keys are
    * needed (all surviving rows of a projected stream are identical, so
    * the emitted set is deterministic; with payload columns the
    * first-arrival winner depends on partition arrival order). At scale
    * bound the state: pass `withinWatermark = Some(tsCol -> delay)` to
    * evict keys once the watermark passes (duplicates in real event
    * streams arrive close together — retries, at-least-once producers),
    * giving dropDuplicatesWithinWatermark's bounded-state behavior
    * instead of an ever-growing key set. */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
                  withinWatermark: Option[(String, String)] = None): DataFrame =
    withinWatermark match {
      case Some((tsCol, delay)) =>
        stream.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)
      case None => stream.dropDuplicates(keyCols)
    }

  /** Round-trippable space-saving state: the summary's (key, count)
    * pairs in ascending count order plus a monotone revision so
    * downstream consumers can select each shard's LATEST emission. */
  final case class HHState(keys: Array[String], counts: Array[Long], rev: Long)

  /** Continuous heavy hitters over an unbounded stream — per-shard
    * space-saving summaries maintained across micro-batches with
    * flatMapGroupsWithState, the streaming sibling of
    * [[graft.ops.Sketches.spaceSavingTopK]]. Keys hash into `nShards`
    * groups (bounded state: nShards × capacity counters TOTAL, no
    * matter how many distinct keys the stream carries); each trigger
    * re-emits the shard's current candidate set tagged with a
    * revision, so the live top-k at any moment is "latest revision
    * per shard, merge, take k". A key always hashes to the same
    * shard, so candidate counts never need cross-shard summing.
    *
    * Space-saving guarantees carry over per shard: reported counts
    * only OVERESTIMATE (by at most the smallest evicted counter), and
    * any key with shard frequency > N_shard/capacity is present.
    * While a shard has seen ≤ capacity distinct keys, its counts are
    * EXACT — the regime the gate locks against a batch oracle.
    * Output: (shard, rev, key, freq), Update mode. */
  def heavyHittersStream(stream: DataFrame, keyCol: String,
                         nShards: Int = 16, capacity: Int = 4096): DataFrame = {
    require(nShards >= 1 && capacity >= 1, "heavyHittersStream: nShards, capacity >= 1")
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Row
    val keyed = stream.select(
        pmod(xxhash64(col(keyCol)), lit(nShards)).cast("int").as("shard"),
        col(keyCol).cast("string").as("k"))
      .as[(Int, String)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[HHState, (Int, Long, String, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) { (shard, rows, state) =>
        val summary = new graft.ops.Sketches.StreamSummary(capacity)
        val prev = state.getOption.getOrElse(
          HHState(Array.empty[String], Array.empty[Long], 0L))
        var i = 0
        while (i < prev.keys.length) {
          summary.restore(Row(prev.keys(i)), prev.counts(i))
          i += 1
        }
        rows.foreach { case (_, k) => summary.offer(Row(k)) }
        val snap = summary.iterator.toArray // ascending count
        val rev = prev.rev + 1
        state.update(HHState(snap.map(_._1.getString(0)), snap.map(_._2), rev))
        snap.iterator.map { case (r, c) => (shard, rev, r.getString(0), c) }
      }
      .toDF("shard", "rev", "key", "freq")
  }

  /** Per-key Welford state for the streaming anomaly monitor. */
  final case class WelfordState(n: Long, mean: Double, m2: Double)

  /** Streaming z-score anomaly detection — per-key running
    * mean/variance (Welford) maintained across micro-batches; a row
    * is flagged against the statistics of the rows BEFORE it (so an
    * anomaly cannot mask itself), then folded in. The live
    * "this metric just went weird" monitor over an event stream.
    *
    * Order contract: rows fold in ascending (seq1, seq2) WITHIN each
    * micro-batch (sorted here — flatMapGroupsWithState hands batches
    * unordered), and batches arrive in source order, so if the
    * stream's batching respects (seq1, seq2) order the whole fold is
    * the sequential per-key fold — which is what makes the result
    * exactly replayable (the gate replays it with an independent
    * driver-side fold; IEEE doubles agree because the operation
    * SEQUENCE agrees, regardless of where batch boundaries fall).
    * State per key is three numbers; flagged rows emit
    * (key, seq1, seq2, value, zscore). */
  def anomalyStream(stream: DataFrame, keyCol: String, seq1Col: String,
                    seq2Col: String, valueCol: String,
                    z: Double, minN: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream.select(
        col(keyCol).cast("string").as("k"),
        col(seq1Col).cast("long").as("s1"),
        col(seq2Col).cast("long").as("s2"),
        col(valueCol).cast("double").as("v"))
      .as[(String, Long, Long, Double)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[WelfordState, (String, Long, Long, Double, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var st = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long, Double, Double)]
        rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, s1, s2, x) =>
          if (st.n >= minN) {
            val std = math.sqrt(st.m2 / (st.n - 1))
            if (std > 0.0 && math.abs(x - st.mean) > z * std)
              out += ((key, s1, s2, x, (x - st.mean) / std))
          }
          val n1 = st.n + 1
          val d = x - st.mean
          val mean1 = st.mean + d / n1
          st = WelfordState(n1, mean1, st.m2 + d * (x - mean1))
        }
        state.update(st)
        out.iterator
      }
      .toDF("key", "seq1", "seq2", "value", "zscore")
  }

  /** Per-key window state for the streaming throttle. */
  final case class ThrottleState(window: Long, count: Long)

  /** Streaming per-key rate limiting — "at most `maxPerWindow` events
    * per key per fixed window" enforced AT INGEST (abuse control, API
    * quota enforcement, the per-source flood guard a crawl pipeline
    * runs before anything downstream pays for the excess): state per
    * key is (current window, count); a row in a new window resets the
    * count, a row at the cap is dropped, accepted rows pass through
    * as (key, seq1, seq2, window, nth). Same order contract and
    * replayability argument as [[anomalyStream]] — all-integer state,
    * so acceptance is exactly batch-split-invariant. */
  def throttleStream(stream: DataFrame, keyCol: String, seq1Col: String,
                     seq2Col: String, windowSize: Long,
                     maxPerWindow: Long): DataFrame = {
    require(windowSize > 0 && maxPerWindow > 0,
      "throttleStream: windowSize, maxPerWindow > 0")
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream.select(
        col(keyCol).cast("string").as("k"),
        col(seq1Col).cast("long").as("s1"),
        col(seq2Col).cast("long").as("s2"))
      .as[(String, Long, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[ThrottleState, (String, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var st = state.getOption.getOrElse(ThrottleState(Long.MinValue, 0L))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long, Long, Long)]
        rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, s1, s2) =>
          val w = Math.floorDiv(s1, windowSize)
          if (w != st.window) st = ThrottleState(w, 0L)
          if (st.count < maxPerWindow) {
            out += ((key, s1, s2, w, st.count + 1))
            st = ThrottleState(w, st.count + 1)
          }
        }
        state.update(st)
        out.iterator
      }
      .toDF("key", "seq1", "seq2", "window", "nth")
  }

  /** Independent sequential replay of [[throttleStream]]'s fold. */
  def throttleReplay(rows: Seq[(String, Long, Long)], windowSize: Long,
                     maxPerWindow: Long): Seq[(String, Long, Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (key, rs) =>
      var window = Long.MinValue; var count = 0L
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long, Long)]
      rs.sortBy(r => (r._2, r._3)).foreach { case (_, s1, s2) =>
        val w = Math.floorDiv(s1, windowSize)
        if (w != window) { window = w; count = 0L }
        if (count < maxPerWindow) { count += 1; out += ((key, s1, s2, w, count)) }
      }
      out
    }

  /** Independent sequential replay of [[anomalyStream]]'s fold (same
    * spec, no Spark) — the gate's cross-path identity check and the
    * spec's ground truth. Input rows in any order; the fold sorts
    * per key by (seq1, seq2). */
  def anomalyReplay(rows: Seq[(String, Long, Long, Double)], z: Double,
                    minN: Int = 8): Seq[(String, Long, Long, Double, Double)] = {
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (key, rs) =>
      var n = 0L; var mean = 0.0; var m2 = 0.0
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Double, Double)]
      rs.sortBy(r => (r._2, r._3)).foreach { case (_, s1, s2, x) =>
        if (n >= minN) {
          val std = math.sqrt(m2 / (n - 1))
          if (std > 0.0 && math.abs(x - mean) > z * std)
            out += ((key, s1, s2, x, (x - mean) / std))
        }
        n += 1
        val d = x - mean
        mean += d / n
        m2 += d * (x - mean)
      }
      out
    }
  }

  /** Exactly-once streaming ingestion into a TableStore: every
    * micro-batch lands via `TableStore.appendOnce(appId, batchId, _)`,
    * which commits the rows AND the (appId, batchId) idempotence
    * marker in one atomic manifest rename. Structured Streaming's
    * foreachBatch is only at-least-once (a batch can re-run after a
    * restart before its checkpoint offset commit) — the store-side
    * marker upgrades it: the replayed batch sees its id already
    * recorded in the latest manifest and becomes a no-op, with no
    * window where data is committed but the marker is not. This is
    * the Delta `txn`-action idempotent-sink design. Runs until the
    * source drains (AvailableNow); the checkpoint directory makes
    * restart-resume work across calls with the same appId. */
  def sinkToStore(stream: DataFrame, store: graft.core.TableStore,
                  appId: String, checkpoint: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        store.appendOnce(appId, batchId, batch.toDF()): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuously-maintained materialized view with exactly-once
    * semantics: an UPDATE-mode streaming aggregation lands each
    * micro-batch's changed groups via `TableStore.upsertOnce` — merge
    * on the group key, with the batch id committed atomically with
    * the rewrite, so replays (restart, checkpoint loss) cannot double-
    * apply. The store converges to exactly the batch aggregate of the
    * whole stream (streaming state carries cumulative group values;
    * each upsert overwrites the key's row). The view's key column is
    * the store's id column. */
  def materializeToStore(aggregated: DataFrame, store: graft.core.TableStore,
                         appId: String, checkpoint: String): Unit = {
    val q = aggregated.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        store.upsertOnce(appId, batchId, batch.toDF()): Unit
      }
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming DataFrame to a memory sink until the source is
    * drained; returns the result table. Deterministic harness for the
    * correctness gate and tests (the production path is
    * `StreamHandle.start` below). */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
                  mode: OutputMode): DataFrame = {
    // Size the state shuffle to the workload: each state partition is a
    // state store instance with per-batch commit overhead, and a drained
    // gate query with small keyspaces doesn't need the session's scan
    // parallelism. Cap 8: at the 10× bench corpus the stateful
    // micro-batch is compute-bound, and 8 cut q_stream_session's wall
    // ~20% against 4 while the per-batch commit cost of the many tiny
    // gate streams stays in the tens of milliseconds. The capped conf
    // lives on an ISOLATED session copy so a concurrent batch query on
    // `spark` never observes it (the partition count is baked into the
    // fresh checkpoint).
    val iso = org.apache.spark.sql.graft.CatalystBridge.isolatedCopy(spark)
    val key = "spark.sql.shuffle.partitions"
    iso.conf.set(key, math.min(spark.conf.get(key).toIntOption.getOrElse(8), 8).toString)
    // drain-once harness: the checkpoint is throwaway, so put its many
    // tiny offset/WAL/state-delta writes on tmpfs and retain the
    // minimum batch history — ~0.4s/batch of fsync latency at sf0.1
    iso.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    val ckpt = graft.core.TempDirs.createFast("graft_ckpt_")
    val q = org.apache.spark.sql.graft.CatalystBridge.withSession(stream, iso)
      .writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // drain complete, query stopped: reclaim the throwaway checkpoint
    // now (it lives on RAM-backed tmpfs — waiting for the exit hook
    // would accumulate one dir per query across a long run)
    graft.core.TempDirs.delete(ckpt)
    iso.table(name)
  }

  /** One aggregate of the count window's select list:
    * func ∈ COUNT|SUM|MIN|MAX|AVG|LAST|PLAIN (PLAIN = current row's value). */
  final case class WindowAggSpec(func: String, in: String, out: String)

  /** A7/C4 — count-based sliding window over an ordered stream, the
    * dialect's streaming lowering of `SELECT STREAM … WINDOW BY col
    * INTERVAL = n` (sql/SQLGroupContainer.java:120-158): keep the last
    * n rows per key; once full, emit one aggregate row per arriving
    * row. Not native to Structured Streaming → stateful
    * flatMapGroupsWithState with a bounded ring buffer. `keyCol`
    * partitions the stream (None = the reference's single global
    * window), so state stays bounded at n rows per key. Rows must arrive
    * in `orderCol` order across triggers (the reference assumes the
    * same: monotonic @GeneratedValue ids). */
  def slidingCountWindowRows(stream: DataFrame, orderCol: String, n: Int,
      specs: Seq[WindowAggSpec], keyCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    // project to the referenced columns only: state is n ROWS PER KEY
    // held across every micro-batch, and the groupByKey shuffle carries
    // each arriving row — unreferenced columns would inflate both for
    // the stream's lifetime
    val needed = (specs.map(_.in) ++ Seq(orderCol) ++ keyCol).distinct
    val projected = stream.select(needed.map(org.apache.spark.sql.functions.col): _*)
    val inSchema = projected.schema
    def inType(name: String): DataType = inSchema(name).dataType
    def isIntegral(dt: DataType): Boolean = dt match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true
      case _ => false
    }
    val outSchema = StructType(specs.map { s =>
      val dt = s.func match {
        case "COUNT" => LongType
        case "SUM" => if (isIntegral(inType(s.in))) LongType else DoubleType
        case "AVG" => DoubleType
        case "MIN" | "MAX" =>
          inType(s.in) match {
            case t: NumericType => t
            case StringType => StringType
            case t => throw graft.plan.Lowering.AnalysisException2(
              s"streaming count-window ${s.func}(${s.in}): unsupported type $t")
          }
        case "LAST" | "PLAIN" => inType(s.in)
      }
      StructField(s.out, dt, nullable = true)
    })
    val orderIdx = inSchema.fieldIndex(orderCol)
    val keyIdx = keyCol.map(inSchema.fieldIndex)
    val idx = specs.map(s => inSchema.fieldIndex(s.in))

    def num(v: Any): Double = v.asInstanceOf[Number].doubleValue()
    def emit(buf: Seq[Row]): Row = Row.fromSeq(specs.zipWithIndex.map { case (s, si) =>
      val i = idx(si)
      val vals = buf.map(_.get(i)).filter(_ != null)
      s.func match {
        case "COUNT" => vals.length.toLong
        case "SUM" =>
          if (isIntegral(inType(s.in))) vals.map(_.asInstanceOf[Number].longValue()).sum
          else vals.map(num).sum
        case "AVG" => if (vals.isEmpty) null else vals.map(num).sum / vals.length
        case "MIN" =>
          if (vals.isEmpty) null
          else if (inType(s.in) == StringType) vals.map(_.asInstanceOf[String]).min
          else vals.minBy(num)
        case "MAX" =>
          if (vals.isEmpty) null
          else if (inType(s.in) == StringType) vals.map(_.asInstanceOf[String]).max
          else vals.maxBy(num)
        case "LAST" | "PLAIN" => buf.last.get(i)
      }
    })

    val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val bufEnc: Encoder[Seq[Row]] = Encoders.kryo[Seq[Row]]
    val keyEnc: Encoder[String] = Encoders.STRING

    projected
      .groupByKey((r: Row) => keyIdx.map(k => String.valueOf(r.get(k))).getOrElse(""))(keyEnc)
      .flatMapGroupsWithState[Seq[Row], Row](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Seq[Row]]) =>
          var buf = state.getOption.getOrElse(Seq.empty[Row])
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => r.get(orderIdx).asInstanceOf[Number].longValue()).foreach { r =>
            buf = (buf :+ r).takeRight(n)
            if (buf.size == n) out += emit(buf)
          }
          state.update(buf)
          out.iterator
      }(bufEnc, outEnc)
  }
}
