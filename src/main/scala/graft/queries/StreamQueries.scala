package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.util.concurrent.atomic.AtomicLong
import graft.core.{GraftSession, Tables}
import graft.streaming.StreamOps
import graft.cep.EventProcessor
import graft.core.Checkpoints.Pins

/** Structured-Streaming and CEP operators driven end-to-end through the
  * correctness gate: each query runs a real streaming query (file
  * source → transforms → memory sink, AvailableNow trigger) or a PROCESS
  * execution, then returns the materialized result for the DuckDB
  * compare against equivalent batch SQL.
  */
object StreamQueries {
  private val n = new AtomicLong(0)
  private def uniq(base: String) = s"${base}_${n.incrementAndGet()}"

  /** C1/C2 — SELECT STREAM filter + projection via the dialect. */
  def qStreamFilter(s: SparkSession, dir: String): DataFrame = {
    val gs = new GraftSession(s)
    gs.registerStreamDir(dir)
    val plan = gs.executeStreamPlan(
      """select stream e.event_id id, e.user_id uid, e.value v from events e
         where e.event_type = 'purchase' and e.value > 100.0""")
    StreamOps.runToMemory(s, plan, uniq("stream_filter"), OutputMode.Append())
      .orderBy(col("id"))
  }

  /** Exactly-once streaming MATERIALIZED VIEW (StreamOps
    * .materializeToStore → TableStore.upsertOnce): per-user engagement
    * totals maintained in Update mode, each micro-batch's changed
    * groups merged into the store with the batch id in the SAME
    * commit. The gate replays the last batch id with garbage values —
    * it must no-op — then oracle-checks the view against the batch
    * aggregate of the whole events table. */
  def qStreamMview(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.loadStream(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("val_sum"))
    val tmp = graft.core.TempDirs.create("graft_mview_")
    val store = new graft.core.TableStore(s, tmp, "user_id")
    val app = "q_stream_mview"
    StreamOps.materializeToStore(agg, store, app,
      graft.core.TempDirs.createFast("graft_mviewck_"))
    val lastBatch = store.lastTxn(app).getOrElse(
      throw new IllegalStateException("q_stream_mview: no batch recorded"))
    val before = store.read.agg(coalesce(round(sum(col("val_sum")), 2), lit(0.0))).head.getDouble(0)
    val garbage = store.read.limit(5).withColumn("val_sum", lit(-1e9))
    require(!store.upsertOnce(app, lastBatch, garbage),
      "q_stream_mview: replayed batch was applied twice")
    val after = store.read.agg(coalesce(round(sum(col("val_sum")), 2), lit(0.0))).head.getDouble(0)
    require(before == after, "q_stream_mview: replay changed the view")
    store.read
      .select(col("user_id"), col("n_events"), col("val_sum"))
      .orderBy(col("user_id"))
  }

  /** Table-is-a-queue duality on a MUTABLE store (TableStore
    * .readStream through dialect SELECT STREAM): half the events
    * table is the store's backlog when the continuous query starts;
    * the second half is appended WHILE it runs and must flow through
    * the same query as tail micro-batches — each row delivered
    * exactly once across the backlog/tail boundary. The drained
    * result aggregates to the full table; DuckDB replays that
    * aggregate from the source. */
  def qStoreTail(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val mid = ev.agg(percentile_approx(col("event_id"), lit(0.5), lit(100)))
      .head.get(0).asInstanceOf[Number].longValue()
    val tmp = graft.core.TempDirs.create("graft_tail_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    store.append(ev.filter(col("event_id") <= mid))
    val gs = new graft.core.GraftSession(s)
    gs.registerStore("ev_q", store)
    val plan = gs.executeStreamPlan(
      "select stream e.event_id id, e.event_type t, e.value v from ev_q e")
    val name = uniq("store_tail")
    val q = plan.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", graft.core.TempDirs.createFast("graft_tailck_"))
      .start()
    try {
      q.processAllAvailable()
      val backlog = s.table(name).count()
      store.append(ev.filter(col("event_id") > mid)) // tail while running
      q.processAllAvailable()
      require(s.table(name).count() > backlog,
        "q_store_tail: tail append did not flow through the running query")
    } finally q.stop()
    s.table(name).groupBy(col("t"))
      .agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("val_sum"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      .orderBy(col("t"))
      .pin
  }

  /** S7 stream-resume contract as a GATE (was unit-only since r4):
    * session 1 opens a SELECT STREAM over a store, drains the first
    * half, and STOPS; the second half lands while nothing runs; a
    * brand-new handle on the SAME checkpoint resumes past the consumed
    * offsets and drains the rest — the reference's per-session
    * continue-from-last-position (persistent/Session.java:694-700).
    * In-gate requires: the two drains are disjoint and their union's
    * row count is the table's (each row exactly once across the
    * stop/resume boundary); the unioned aggregate is then
    * oracle-checked against DuckDB on the full table. */
  def qStreamResume(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val total = ev.count()
    val mid = ev.agg(percentile_approx(col("event_id"), lit(0.5), lit(100)))
      .head.get(0).asInstanceOf[Number].longValue()
    val tmp = graft.core.TempDirs.create("graft_resume_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    store.append(ev.filter(col("event_id") <= mid))
    val cp = graft.core.TempDirs.createFast("graft_resumeck_")
    // exactly-once file sink: both drains share ONE output path and ONE
    // checkpoint, so the sink's commit log spans the stop/resume
    // boundary — re-delivered offsets would surface as duplicate rows
    val out = graft.core.TempDirs.create("graft_resume_out_")
    def drain(): Unit = {
      val gs = new graft.core.GraftSession(s)
      gs.registerStore("ev_r", store)
      val plan = gs.executeStreamPlan(
        "select stream e.event_id id, e.event_type t, e.value v from ev_r e")
      val q = plan.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode(OutputMode.Append())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val nFirst = s.read.parquet(out).count()
    require(nFirst > 0L && nFirst < total,
      s"q_stream_resume: first drain must be a strict prefix, got $nFirst/$total")
    store.append(ev.filter(col("event_id") > mid)) // while NOTHING runs
    drain()
    val union = s.read.parquet(out).pin
    val n = union.count()
    require(n == total,
      s"q_stream_resume: drained $n != table $total — " +
        (if (n > total) "resumed handle re-delivered consumed rows" else "rows lost across resume"))
    val nIds = union.agg(count_distinct(col("id"))).head.getLong(0)
    require(nIds == total,
      s"q_stream_resume: $nIds distinct ids over $total rows — duplicates across resume")
    union.groupBy(col("t"))
      .agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("val_sum"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      .orderBy(col("t"))
      .pin
  }

  /** Exactly-once streaming ingestion (StreamOps.sinkToStore →
    * TableStore.appendOnce): the events stream lands in a TableStore
    * with the micro-batch id committed ATOMICALLY with the data, then
    * the gate REPLAYS the last batch id with extra rows — the
    * signature at-least-once failure (foreachBatch re-run after a
    * crash) — and requires the store unchanged. Content equality of
    * the ingested table vs the source is the DuckDB oracle. */
  def qStreamSink(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = graft.core.TempDirs.create("graft_sink_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    val app = "q_stream_sink"
    StreamOps.sinkToStore(stream, store, app,
      graft.core.TempDirs.createFast("graft_sinkckpt_"))
    val lastBatch = store.lastTxn(app).getOrElse(
      throw new IllegalStateException("q_stream_sink: no batch recorded"))
    val rowsBefore = store.read.count()
    val replay = Tables.load(s, dir, "events").limit(50)
      .select(col("event_id"), col("event_type"), col("value"))
    require(!store.appendOnce(app, lastBatch, replay),
      "q_stream_sink: replayed batch was applied twice")
    require(store.read.count() == rowsBefore,
      "q_stream_sink: replay changed the table")
    // a NEW batch id is accepted (empty payload keeps content stable)
    require(store.appendOnce(app, lastBatch + 1, replay.limit(0)),
      "q_stream_sink: a fresh batch id was rejected")
    store.read.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("val_sum"),
        min(col("event_id")).as("id_min"),
        max(col("event_id")).as("id_max"))
      .orderBy(col("event_type"))
  }

  /** C3 — streaming tumbling aggregation (group revisions; complete
    * mode materializes the final group states = batch semantics). */
  def qStreamTumbling(s: SparkSession, dir: String): DataFrame = {
    val gs = new GraftSession(s)
    gs.registerStreamDir(dir)
    val plan = gs.executeStreamPlan(
      """select stream e.event_type t, count(e.event_id) c, min(e.value) mn, max(e.value) mx
         from events e group by e.event_type""")
    StreamOps.runToMemory(s, plan, uniq("stream_tumbling"), OutputMode.Complete())
      .orderBy(col("t"))
  }

  /** C4 — streaming count window, keyed per user (the scale path: state
    * bounded at n rows per key, keys distributed across executors). */
  def qStreamCountWindow(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events")
    val windowed = StreamOps.slidingCountWindowRows(
      stream, orderCol = "event_id", n = 10,
      specs = Seq(
        StreamOps.WindowAggSpec("PLAIN", "user_id", "uid"),
        StreamOps.WindowAggSpec("PLAIN", "event_id", "id"),
        StreamOps.WindowAggSpec("COUNT", "event_id", "c"),
        StreamOps.WindowAggSpec("MIN", "value", "mn"),
        StreamOps.WindowAggSpec("MAX", "value", "mx")),
      keyCol = Some("user_id"))
    StreamOps.runToMemory(s, windowed, uniq("stream_window"), OutputMode.Append())
      .orderBy(col("uid"), col("id"))
  }

  /** C7 — event-time tumbling window with watermark (exceeds the
    * reference): state evicted per finalized window, Append emits each
    * window exactly once when the watermark passes its end. The oracle
    * reproduces the finalization rule: windows whose end <= max(ts) -
    * delay. */
  def qStreamTimeWindow(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events")
    val w = StreamOps.tumblingTimeWindow(stream, "ts", "1 hour", "10 minutes",
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")))
    StreamOps.runToMemory(s, w, uniq("stream_timewin"), OutputMode.Append())
      .select(col("window.start").as("hour"), col("event_type").as("t"),
        col("n"), col("sum_value"))
      .orderBy(col("hour"), col("t"))
  }

  /** Stream-stream interval join (StreamOps.intervalJoinStream):
    * purchases matched to the same user's clicks within the prior 6
    * hours, both streams watermarked — the attribution join. Inner
    * join: the drained result equals the batch interval join, which
    * is the oracle. */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.loadStream(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = Tables.loadStream(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = StreamOps.intervalJoinStream(purchases, clicks,
      col("p_uid") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("p_uid").as("user_id"),
        col("p_value"))
    StreamOps.runToMemory(s, joined, uniq("stream_join"), OutputMode.Append())
      .orderBy(col("p_id"), col("c_id"))
  }

  /** Stream-stream LEFT OUTER interval join: like q_stream_join but
    * purchases with NO prior click still emit, with null click
    * columns — once the watermark proves no matching click can still
    * arrive. Matched rows emit on arrival (inner semantics); a null
    * row emits when the watermark passes the purchase's latest
    * possible match time (its own ts, since c_ts <= p_ts). Drained
    * with AvailableNow, the final watermark is max(ts) − 10 min, so
    * the oracle is the batch left join with null rows restricted to
    * purchases the final watermark closed. */
  def qStreamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.loadStream(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = Tables.loadStream(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = StreamOps.intervalJoinStream(purchases, clicks,
      col("p_uid") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS") &&
        col("c_ts") <= col("p_ts"), "left_outer")
      .select(col("p_id"), col("c_id"), col("p_uid").as("user_id"),
        col("p_value"))
    StreamOps.runToMemory(s, joined, uniq("stream_join_outer"), OutputMode.Append())
      .orderBy(col("p_id"), col("c_id").asc_nulls_first)
  }

  /** Stream-static enrichment (StreamOps.enrichStream): the events
    * stream left-joined per micro-batch to the static customer dim —
    * no streaming state, dim broadcast each batch. Oracle is the plain
    * batch left join. */
  def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events")
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = StreamOps.enrichStream(stream, dim,
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("value"))
    StreamOps.runToMemory(s, joined, uniq("stream_enrich"), OutputMode.Append())
      .orderBy(col("event_id"))
  }

  /** Streaming sessionization (ops/Sessions.sessionAggStream): native
    * session_window + watermark — open-session state only, a session
    * emitted exactly once when the watermark passes last_event + gap.
    * The oracle replays batch sessionization and keeps only sessions
    * the final watermark (max ts - delay) finalized, mirroring
    * q_stream_time_window's finalization predicate. */
  def qStreamSession(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events")
    val w = graft.ops.Sessions.sessionAggStream(stream, "user_id", "ts",
      gap = "4 hours", watermarkDelay = "10 minutes",
      Seq(count(lit(1)).as("n_events"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 2).as("sum_value")))
    StreamOps.runToMemory(s, w, uniq("stream_session"), OutputMode.Append())
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** C6 — PROCESS STREAM (online CEP): the callback runs continuously
    * over arriving rows via foreachBatch; consumed rows are deleted
    * from the backing TableStore per micro-batch. The gate drains the
    * source with AvailableNow and returns the store's retained state
    * (oracle = batch anti-join over the same predicate). */
  def qProcessStream(s: SparkSession, dir: String): DataFrame = {
    val gs = new GraftSession(s)
    gs.registerStreamDir(dir)
    val tmp = graft.core.TempDirs.create("graft_pstream_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    store.append(Tables.load(s, dir, "events"))
    // throwaway drain-once checkpoint: tmpfs keeps offset/WAL/commit
    // fsyncs off the gate timing (cluster runs pass a durable path)
    val ckpt = graft.core.TempDirs.createFast("graft_pstream_ckpt_")
    val h = gs.executeStreamProcess(
      """process stream e.event_id from events e within 'graft.queries.DropErrors'
         where e.event_type = 'click' and e.value < 50.0""",
      DropErrors, store = Some(store), idCol = Some("event_id"),
      checkpoint = Some(ckpt),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    h.awaitTermination()
    graft.core.TempDirs.delete(ckpt)
    store.read
      .select(col("event_id").as("id"), col("user_id").as("uid"),
        col("event_type").as("t"), col("value").as("v"))
      .orderBy(col("id"))
  }

  /** C8 — event subscription: two subscribers with disjoint predicates
    * on one entity stream; ONE dispatcher query fans each micro-batch
    * out to their queues (reference EventSubscriber routing minus the
    * remote transport). The gate drains the source and returns the
    * union of delivered (subscriber, event) rows — oracle = two batch
    * filters unioned. */
  def qSubscription(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = Tables.loadStream(s, dir, "events")
    val bus = new graft.streaming.EventBus
    // capacity above the sf0.1 match count: the gate polls AFTER the
    // drain, so delivery must not block on a full queue mid-batch
    val a = bus.subscribe("events", "subA", Some(col("event_type") === "error"),
      capacity = 1 << 20)
    val b = bus.subscribe("events", "subB", Some(col("event_type") === "purchase"),
      capacity = 1 << 20)
    val ckpt = graft.core.TempDirs.createFast("graft_sub_ckpt_")
    val q = bus.dispatch("events", stream, checkpoint = Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    graft.core.TempDirs.delete(ckpt)
    val idIdx = stream.schema.fieldIndex("event_id")
    val rows = a.pollAll().map(r => ("subA", r.getLong(idIdx))) ++
      b.pollAll().map(r => ("subB", r.getLong(idIdx)))
    rows.toDF("sub", "id").orderBy(col("sub"), col("id"))
  }

  /** Streaming exact dedup at ingest: distinct (user_id, event_type)
    * pairs surviving a cross-batch dropDuplicates. Projected to the key
    * columns so every surviving row is identical ⇒ deterministic result
    * set (oracle = batch DISTINCT). */
  def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events")
      .select(col("user_id").as("uid"), col("event_type").as("t"))
    val deduped = StreamOps.dedupStream(stream, Seq("uid", "t"))
    StreamOps.runToMemory(s, deduped, uniq("stream_dedup"), OutputMode.Append())
      .orderBy(col("uid"), col("t"))
  }

  /** Continuous streaming heavy hitters
    * (StreamOps.heavyHittersStream): per-shard space-saving summaries
    * maintained across micro-batches, the live "top users right now"
    * view over an event stream. The capacity (65536/shard) far
    * exceeds the fixture's key cardinality at EVERY bench scale, so
    * the sketch runs in its exact regime and the drained top-20 must
    * hash-match DuckDB's exact counts — the in-gate require locks
    * that no shard ever reached eviction territory, so a capacity
    * regression cannot silently degrade the gate to
    * approximately-right. */
  def qStreamTopk(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.loadStream(s, dir, "events").select(col("user_id"))
    val hh = StreamOps.heavyHittersStream(stream, "user_id",
      nShards = 8, capacity = 65536)
    val drained = StreamOps.runToMemory(s, hh, uniq("stream_topk"),
      OutputMode.Update())
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    val latest = drained
      .withColumn("__mr", max(col("rev")).over(w))
      .filter(col("rev") === col("__mr"))
    val perShard = latest.groupBy(col("shard"))
      .agg(count(lit(1)).as("nkeys")).collect()
    perShard.foreach(r => require(r.getLong(1) < 65536L,
      s"q_stream_topk: shard ${r.getInt(0)} at capacity — exact regime lost"))
    latest
      .select(col("key").cast("long").as("user_id"), col("freq"))
      .orderBy(col("freq").desc, col("user_id").asc)
      .limit(20)
  }

  /** Streaming NEAR-dup dedup at ingest: the corpus arrives as two
    * deterministic micro-batches (split parquet files, one file per
    * trigger) and each batch runs foreachBatch →
    * IncrementalDedup.dedupBatch against the persistent bucket/
    * signature index — the production "dedup the crawl as it lands"
    * composition (StreamOps.dedupStream is the EXACT-dup sibling).
    * Rows-only gate made SELF-CHECKING: the drained streaming
    * survivors must be row-identical to the direct two-batch
    * incremental run over the same halves (one symmetric-difference
    * job, the q_sim_ivf_indexed pattern; scale-guarded to ≤ 10k
    * survivor rows — see the body comment). Bounded to a quarter of
    * the corpus: the batch operator's own cost/contract already rides
    * q_dedup_incremental. */
  def qStreamNeardup(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalDedup
    val quarter = Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("text"), col("source"))
    val half1 = quarter.filter(col("doc_id") % 8 === 0)
    val half2 = quarter.filter(col("doc_id") % 8 =!= 0)
    PipelineQueries.withTempIndexDir("graft_strm_neardup_") { base =>
      // lay the two halves out as one file each; mtimes order the
      // stream's file queue so batch 1 = half 1 deterministically
      val inDir = new java.io.File(base, "in"); inDir.mkdirs()
      def writeHalf(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = new java.io.File(base, s"tmp_$name")
        // repartition(1, const) rather than coalesce(1) (r18, guide
        // §2.4/§6): coalesce collapsed the WHOLE scan+filter into the
        // single write task; the constant-key hash exchange keeps the
        // upstream parallel and ships rows to one writer with no
        // round-robin pre-sort. One file per half is the contract
        // (mtime orders the stream's batches); row order within a
        // half is immaterial — every consumer fold sorts per key.
        df.repartition(1, lit(0)).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime); ()
      }
      val t0 = 1600000000000L // fixed epoch — only relative order matters
      writeHalf(half1, "batch0", t0)
      writeHalf(half2, "batch1", t0 + 60000L)
      val outDir = new java.io.File(base, "out").toString
      // oracle-equivalence guard (r13 advice): the DuckDB replay
      // models the index-side skew cap as bucket EXCLUSION while the
      // engine resolves saturated buckets by split/exemplars — the
      // two coincide only while NO bucket reaches the cap, which the
      // engine's own saturation counters prove (dedupBatch bumps them
      // on every batch whose index could saturate; zero delta across
      // all four batches below = zero saturated buckets met). Free:
      // the counting job already rides dedupBatch.
      def satCount() = graft.core.Metrics.snapshot
        .get("counter.minhashIndexSaturatedBuckets").map(_.count).getOrElse(0L)
      val sat0 = satCount()
      val streamed = IncrementalDedup.open(s, s"$base/idx_stream", threshold = 0.9)
      val schema = quarter.schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batchId token: the INDEX appends are exactly-once under
          // foreachBatch's at-least-once replay. The parquet sink
          // below stays at-least-once (a production pipeline would
          // write to a batchId-keyed path or an appendOnce store);
          // the gate's drained stream never replays, so the
          // equivalence check is unaffected.
          streamed.dedupBatch(batch, "doc_id", "text",
              txn = Some(("q_stream_neardup", batchId)))
            .write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val fromStream = s.read.parquet(outDir)
        .select(col("doc_id"), col("source"))
      // direct-replay equivalence self-check, SCALE-GUARDED (r14; r15
      // moved the guard off row-count thresholds onto ScaleGuard): the
      // direct two-batch run is a SECOND full incremental pipeline —
      // half this gate's wall — verifying that foreachBatch
      // composition equals the direct calls, a property of the
      // micro-batch plumbing, not of the corpus size (same code path
      // at every SF; the zero-tolerance DuckDB oracle locks the
      // streamed output itself at the gate SF). It runs at the oracle
      // SF and EVERY real bench SF and is skipped only at derived
      // scaling corpora (logged), where it would re-verify the same
      // plumbing at double the cost. The streamed row count stays
      // asserted at every SF (a silently-empty sink must redden the
      // gate, not vacuously pass the equivalence).
      require(fromStream.count() > 0, "q_stream_neardup: streamed sink is empty")
      if (ScaleGuard.probeEnabled(dir, "q_stream_neardup")) {
        val direct = IncrementalDedup.open(s, s"$base/idx_direct", threshold = 0.9)
        val d1 = direct.dedupBatch(half1, "doc_id", "text").select(col("doc_id"), col("source"))
        val d2 = direct.dedupBatch(half2, "doc_id", "text").select(col("doc_id"), col("source"))
        val fromBatch = d1.union(d2)
        val mismatch = fromStream.union(fromBatch)
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).count()
        require(mismatch == 0,
          s"q_stream_neardup: streamed survivors diverge from the direct incremental run ($mismatch rows)")
      }
      require(satCount() - sat0 == 0L,
        "q_stream_neardup: a collision join met a saturated index bucket — " +
          "the DuckDB oracle's exclusion replay no longer matches the " +
          "engine's split/exemplar resolution at this fixture size")
      // pin before the finally reclaims the on-disk index/output
      fromStream.orderBy(col("doc_id")).pin
    }
  }

  /** Streaming z-score anomaly detection (StreamOps.anomalyStream):
    * per-user Welford state across two time-ordered micro-batches,
    * each row judged against the statistics of the rows before it.
    * SELF-CHECKING: the drained flags must be IDENTICAL — key, seq,
    * value, and the IEEE double z-score — to an independent
    * driver-side sequential replay of the same fold (the operation
    * sequence agrees, so the doubles agree bit-for-bit; guarded to
    * gate scales). */
  def qStreamAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("value"))
    val r = ev.agg(min(col("tsu")), max(col("tsu"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    PipelineQueries.withTempIndexDir("graft_strm_anom_") { base =>
      val inDir = new java.io.File(base, "in"); inDir.mkdirs()
      def writeHalf(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = new java.io.File(base, s"tmp_$name")
        // repartition(1, const) rather than coalesce(1) (r18, guide
        // §2.4/§6): coalesce collapsed the WHOLE scan+filter into the
        // single write task; the constant-key hash exchange keeps the
        // upstream parallel and ships rows to one writer with no
        // round-robin pre-sort. One file per half is the contract
        // (mtime orders the stream's batches); row order within a
        // half is immaterial — every consumer fold sorts per key.
        df.repartition(1, lit(0)).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime); ()
      }
      val t0 = 1600000000000L
      writeHalf(ev.filter(col("tsu") < mid), "batch0", t0)
      writeHalf(ev.filter(col("tsu") >= mid), "batch1", t0 + 60000L)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val flagged = StreamOps.anomalyStream(stream, "user_id", "tsu",
        "event_id", "value", z = 3.0, minN = 8)
      val drained = StreamOps.runToMemory(s, flagged,
        uniq("stream_anomaly"), OutputMode.Append())
        .orderBy(col("key"), col("seq1"), col("seq2"))
        .pin
      if (ev.count() <= 2000000L) {
        val all = ev.collect().map(x =>
          (x.getLong(0).toString, x.getLong(1), x.getLong(2), x.getDouble(3))).toSeq
        val ref = StreamOps.anomalyReplay(all, z = 3.0, minN = 8)
          .sortBy(t => (t._1, t._2, t._3))
        val got = drained.collect().map(x =>
          (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toSeq
        require(got == ref,
          s"q_stream_anomaly: streamed flags diverge from sequential replay " +
            s"(${got.size} vs ${ref.size} rows)")
      }
      drained
    }
  }

  /** Streaming per-key rate throttle (StreamOps.throttleStream): at
    * most 5 events per user per hour, enforced across two
    * time-ordered micro-batches with the window state carried
    * between them. SELF-CHECKING: the accepted set must be identical
    * to the sequential replay (all-integer state ⇒ batch-split
    * invariance is exact); the result also aggregates per user for a
    * DuckDB oracle replaying the same accept rule with a row_number
    * over (window, user). */
  def qStreamThrottle(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
    // count(*) rides the min/max action (r16 ADVICE): a separate
    // ev.count() for the collect backstop below re-scanned the events
    // table inside the timed region on every real-corpus pass
    val r = ev.agg(min(col("tsu")), max(col("tsu")), count(lit(1))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val evRows = r.getLong(2)
    val hourMicros = 3600L * 1000000L
    PipelineQueries.withTempIndexDir("graft_strm_thr_") { base =>
      val inDir = new java.io.File(base, "in"); inDir.mkdirs()
      def writeHalf(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = new java.io.File(base, s"tmp_$name")
        // repartition(1, const) rather than coalesce(1) (r18, guide
        // §2.4/§6): coalesce collapsed the WHOLE scan+filter into the
        // single write task; the constant-key hash exchange keeps the
        // upstream parallel and ships rows to one writer with no
        // round-robin pre-sort. One file per half is the contract
        // (mtime orders the stream's batches); row order within a
        // half is immaterial — every consumer fold sorts per key.
        df.repartition(1, lit(0)).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime); ()
      }
      val t0 = 1600000000000L
      writeHalf(ev.filter(col("tsu") < mid), "batch0", t0)
      writeHalf(ev.filter(col("tsu") >= mid), "batch1", t0 + 60000L)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val accepted = StreamOps.throttleStream(stream, "user_id", "tsu",
        "event_id", windowSize = hourMicros, maxPerWindow = 5L)
      val drained = StreamOps.runToMemory(s, accepted,
        uniq("stream_throttle"), OutputMode.Append())
        .pin
      // Sequential-replay self-check, SCALE-GUARDED (r14; r15 moved
      // the guard off row-count thresholds onto ScaleGuard — which
      // also drops the count() action the old guard spent): collecting
      // the corpus and folding it on the driver verifies a corpus-
      // size-independent property (the flatMapGroupsWithState fold is
      // batch-split-invariant — locked by the StreamingSpec replay
      // test and by the zero-tolerance DuckDB oracle at the gate SF).
      // It runs at the oracle SF and EVERY real bench SF and is
      // skipped only at derived scaling corpora (logged), where a
      // many-row driver collect + sort re-verifies the same machinery
      // at a large share of the gate's wall.
      // Driver-memory backstop (r15 ADVICE): provenance decides the
      // POLICY, but a sufficiently large REAL corpus must not turn
      // ev.collect() into a driver OOM — above 2M events (the same
      // bound q_stream_anomaly's probe kept) skip + log instead. The
      // row count rides the min/max action at the top of the gate.
      if (ScaleGuard.probeEnabled(dir, "q_stream_throttle") &&
          ScaleGuard.collectBounded(evRows, 2000000L, "q_stream_throttle")) {
        val all = ev.collect().map(x =>
          (x.getLong(0).toString, x.getLong(1), x.getLong(2))).toSeq
        val ref = StreamOps.throttleReplay(all, hourMicros, 5L)
          .sortBy(t => (t._1, t._2, t._3))
        val got = drained.collect().map(x =>
          (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
          .toSeq.sortBy(t => (t._1, t._2, t._3))
        require(got == ref,
          s"q_stream_throttle: accepted set diverges from sequential replay " +
            s"(${got.size} vs ${ref.size} rows)")
      }
      drained.groupBy(col("key").cast("long").as("user_id"))
        .agg(count(lit(1)).as("n_accepted"), max(col("nth")).as("max_nth"))
        .orderBy(col("user_id"))
    }
  }

  /** C5 — PROCESS … WITHIN: callback per matching row, delete-on-true;
    * returns the retained table (ts excluded: sub-microsecond precision
    * is not representable on the Spark side). */
  def qProcessRetained(s: SparkSession, dir: String): DataFrame = {
    val gs = new GraftSession(s)
    gs.registerDir(dir)
    val res = gs.executeProcess(
      "process e.event_id from events e within 'graft.queries.DropErrors' where e.event_type = 'error'",
      DropErrors, idCol = Some("event_id"))
    res.retained
      .select(col("eevent_id").as("id"), col("euser_id").as("uid"),
        col("eevent_type").as("t"), col("evalue").as("v"))
      .orderBy(col("id"))
  }
}

/** Deterministic processor for the gate: consume every matching row,
  * delete consumed rows. */
object DropErrors extends EventProcessor {
  def process(row: Row): Boolean = true
  def delete(): Boolean = true
}
