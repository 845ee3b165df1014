package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.annotation.meta.field
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.annotations.{Id, NoCheck}
import graft.cep.EventProcessor
import graft.core.{GraftSession, TypedTable}

/** persist_find entity: orders-shaped rows with an assigned @Id, so
  * `persist` takes the upsert path. */
final case class Order(@(Id @field) o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                       o_orderpriority: String)

/** stream_tail entity: append-only (@NoCheck id), every row carries the
  * due time of the chunk that wrote it. */
final case class Ev(@(Id @field) @(NoCheck @field) event_id: Long, kind: Int, value: Long,
                    due_ms: Long)

/** PROCESS callback of persist_find: consume and delete every match. */
object Consume extends EventProcessor {
  def process(row: Row): Boolean = true
  def delete(): Boolean = true
}

/** PROCESS STREAM callback of stream_tail: records when each row reached
  * it (callbacks run in executor threads of this JVM) and keeps the row. */
object Collect extends EventProcessor {
  val seen = new ConcurrentHashMap[java.lang.Long, Array[Long]]() // id → (count, first ms)
  def process(row: Row): Boolean = {
    val now = System.currentTimeMillis()
    seen.compute(row.getLong(row.fieldIndex("eevent_id")),
      (_, v) => if (v == null) Array(1L, now) else Array(v(0) + 1, v(1)))
    true
  }
  def delete(): Boolean = false
}

/** Common shape of a workload: set up (timed as setup_s), run the timed
  * loop, check results outside the timed region, report. */
abstract class Workload(val spark: SparkSession, val args: Main.Args, val trace: Trace) {
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var rowsReturned = 0L
  private val sampleBuf = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  protected val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var counts0 = Map.empty[String, Long]
  private var counts1 = Map.empty[String, Long]
  private var wallNs = 1L
  private var opCount = 0L
  private var timedOps = 0L
  private var timedRows = 0L

  /** Samples are kept only in the timed phase; warm-up ops are checked
    * like any other but not measured. */
  private var recording = false
  def sample(cls: String, ms: Double): Unit =
    if (recording) sampleBuf.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
  def lsample(name: String, v: Double): Unit =
    if (recording) layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def samples: Map[String, Seq[Double]] = sampleBuf.map { case (k, v) => k -> v.toSeq }.toMap
  def fail(what: String): Unit = failures += what

  def dir(p: String*): Path = Paths.get(args.dir, p: _*)
  def ops(): Iterator[JsonNode] = Main.readOps(args.dir)._2
  def header: JsonNode = Main.readOps(args.dir)._1

  def setup(): Unit
  def run(): Unit
  def check(): Unit
  def extra: Map[String, Any] = Map.empty
  def close(): Unit = ()

  /** Runs `run()` and brackets it with listener snapshots; per-op layer
    * metrics divide by the ops and rows of this phase alone. */
  final def timed(): Unit = {
    counts0 = snapshot()
    val (ops0, rows0) = (opCount, rowsReturned)
    recording = true
    val t = System.nanoTime()
    run()
    wallNs = System.nanoTime() - t
    timedOps = opCount - ops0
    timedRows = rowsReturned - rows0
    counts1 = snapshot()
  }

  private def snapshot(): Map[String, Long] = if (!trace.enabled) Map.empty else {
    Thread.sleep(300) // listener bus is asynchronous
    val j = trace.jobs
    Map("jobs" -> j.total(j.jobsByPhase), "plan_jobs" -> j.get(j.jobsByPhase, "plan"),
      "stages" -> j.total(j.stages), "tasks" -> j.total(j.tasks), "run_ms" -> j.total(j.runMs),
      "shuffle" -> j.total(j.shuffleBytes), "spill" -> j.total(j.spillBytes),
      "records" -> j.total(j.recordsRead)) ++
      trace.joinCounts.map { case (k, v) => s"join.$k" -> v }
  }

  /** Time `f` in ms, counting an exception as a failed op. */
  def timedOp[T](what: => String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    opCount += 1
    val t = System.nanoTime()
    try { val r = f; Some((r, (System.nanoTime() - t) / 1e6)) }
    catch { case scala.util.control.NonFatal(e) => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  def layerMetrics(): Map[String, Double] = {
    def d(k: String) = (counts1.getOrElse(k, 0L) - counts0.getOrElse(k, 0L)).toDouble
    val n = math.max(1L, timedOps).toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Map(
      "spark.jobs_per_op" -> d("jobs") / n, "spark.stages_per_op" -> d("stages") / n,
      "spark.tasks_per_op" -> d("tasks") / n,
      "spark.busy_ratio" -> d("run_ms") / (wallNs / 1e6 * cores),
      "spark.shuffle_bytes_per_op" -> d("shuffle") / n, "spark.spill_bytes_per_op" -> d("spill") / n,
      "spark.rows_read_per_row_returned" -> d("records") / math.max(1L, timedRows),
      "spark.join_bhj" -> d("join.BroadcastHashJoin") / n,
      "spark.join_smj" -> d("join.SortMergeJoin") / n,
      "spark.join_shj" -> d("join.ShuffledHashJoin") / n,
      "plan.eager_jobs" -> d("plan_jobs") / n)
    spark ++ layer.map { case (k, v) => k -> Workload.median(v.toSeq) }
  }
}

object Workload {
  def median(v: Seq[Double]): Double =
    if (v.isEmpty) 0.0 else {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def percentile(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0 else {
      val s = v.sorted
      val x = p * (s.size - 1)
      val i = x.toInt
      if (i + 1 >= s.size) s.last else s(i) + (x - i) * (s(i + 1) - s(i))
    }

  /** Order-insensitive digest of a result: SHA-256 of its sorted row
    * renderings. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytesAndFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toSeq
      (files.map(Files.size).sum, files.count(_.toString.endsWith(".parquet")).toLong)
    } finally s.close()
  }
}

/** dialect_select: a seeded stream of dialect statements over read-only
  * tables, one client, each op = execute + fetch the full result. */
final class DialectSelect(spark: SparkSession, args: Main.Args, trace: Trace)
    extends Workload(spark, args, trace) {
  private val gs = new GraftSession(spark)
  private val all = ops().toIndexedSeq
  private val results = mutable.ArrayBuffer.empty[(String, String)]
  private val digests = mutable.Map.empty[String, String] // statement → reference digest

  private def runStatement(cls: String, sql: String): Array[Row] = trace.span("op", cls) {
    var parseMs = 0.0
    if (trace.enabled) { // execute parses again; parsing is timed apart here
      val t = System.nanoTime()
      trace.span("sqlparse", "Parser.parse")(graft.sqlparse.Parser.parse(sql))
      parseMs = (System.nanoTime() - t) / 1e6
      lsample("sqlparse.parse_us", parseMs * 1e3)
    }
    trace.phase(spark, "plan")
    val t0 = System.nanoTime()
    val df = trace.span("plan", "GraftSession.execute")(gs.execute(sql))
    val t1 = System.nanoTime()
    trace.phase(spark, "action")
    val rows = trace.span("spark", "collect")(df.collect())
    if (trace.enabled) {
      lsample("plan.lower_ms", (t1 - t0) / 1e6 - parseMs)
      lsample("spark.action_ms", (System.nanoTime() - t1) / 1e6)
    }
    rows
  }

  def setup(): Unit = {
    val tables = dir("tables").toString
    gs.registerDir(tables)
    Files.list(dir("tables")).iterator().asScala.foreach { f =>
      spark.read.parquet(f.toString).createOrReplaceTempView(f.getFileName.toString.stripSuffix(".parquet"))
    }
    // warm-up: the first rounds of the seeded sequence through the dialect
    all.take(DialectSelect.WarmupOps).foreach(op => gs.execute(op.get("sql").asText).collect())
  }

  def run(): Unit = {
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val op = all(i % all.size)
      i += 1
      val sql = op.get("sql").asText
      val cls = op.get("class").asText
      timedOp(sql)(runStatement(cls, sql)).foreach { case (rows, ms) =>
        sample("latency", ms)
        sample(s"class.$cls", ms)
        rowsReturned += rows.length
        // only a digest is kept, so the retained heap is the engine's
        val kept = if (args.plantWrong && results.isEmpty) rows.drop(1) else rows
        results += ((sql, Workload.digest(kept)))
      }
    }
  }

  /** The Spark SQL twin of each distinct statement that ran, computed
    * after the timed phase. */
  def check(): Unit = {
    val ref = all.map(op => op.get("sql").asText -> op.get("ref").asText).toMap
    results.foreach { case (sql, got) =>
      val want = digests.getOrElseUpdate(sql, Workload.digest(spark.sql(ref(sql)).collect()))
      if (got != want) fail(s"result differs from Spark SQL reference: $sql")
    }
  }
}

object DialectSelect {
  /** Statements run before timing starts: two rounds of the templates and
    * a few more. */
  val WarmupOps = 26
}

/** persist_find: one @Id entity loaded at setup, then persist chunks,
  * find(id), id-bounded SELECTs and PROCESS … WITHIN deletes, checked
  * against an in-memory model of id → row. */
final class PersistFind(spark: SparkSession, args: Main.Args, trace: Trace)
    extends Workload(spark, args, trace) {
  import spark.implicits._
  private val gs = new GraftSession(spark)
  private val storeDir = dir("store", "orders")
  private var tt: TypedTable[Order] = _
  private val model = mutable.TreeMap.empty[Long, Order]
  private var rowsPersisted = 0L
  private var loadRows = 0L
  private var persistMs = 0.0
  private val day0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime

  private def orders(r: JsonNode): Seq[Order] = {
    def col(n: String) = r.get(n).elements().asScala.toIndexedSeq
    val (k, c, s, p, d, pr) = (col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate_day"), col("o_orderpriority"))
    k.indices.map(i => Order(k(i).asLong, c(i).asLong, s(i).asText, p(i).asDouble,
      new java.sql.Timestamp(day0 + d(i).asLong * 86400000L), pr(i).asText))
  }

  private def persist(rows: Seq[Order]): Unit = {
    tt.persist(rows)
    rows.foreach(o => model(o.o_orderkey) = o)
  }

  private def select(sql: String): Array[Row] = {
    trace.phase(spark, "plan")
    val df = trace.span("plan", "GraftSession.execute")(gs.execute(sql))
    trace.phase(spark, "action")
    trace.span("spark", "collect")(df.collect())
  }

  private def process(sql: String): Long = {
    val where = graft.sqlparse.Parser.parse(sql).where.get
    val cond = graft.plan.Lowering.lowerCondOn(tt.store.read, where)
    tt.store.process(cond, Consume).processed
  }

  def setup(): Unit = {
    Files.createDirectories(storeDir.getParent)
    tt = gs.registerEntity[Order]("orders", storeDir.toString)
    val load = orders(header.get("load"))
    loadRows = load.size
    val t = System.nanoTime()
    trace.span("core", "load")(persist(load))
    layer("core.load_ms") = mutable.ArrayBuffer((System.nanoTime() - t) / 1e6)
    loop(Long.MaxValue, PersistFind.WarmupOps)
  }

  def run(): Unit = loop(System.nanoTime() + (args.seconds * 1e9).toLong, Long.MaxValue)

  private lazy val it = ops()

  /** Runs ops until the deadline (System.nanoTime) or `limit` ops. */
  private def loop(deadline: Long, limit: Long): Unit = {
    var n = 0L
    while (System.nanoTime() < deadline && n < limit && it.hasNext) {
      n += 1
      val op = it.next()
      val kind = op.get("op").asText
      trace.span("op", kind) {
        kind match {
          case "persist" =>
            val rows = orders(op.get("rows"))
            timedOp("persist")(trace.span("core", "TypedTable.persist")(persist(rows))).foreach {
              case (_, ms) =>
                sample("write", ms); lsample("core.persist_ms", ms)
                rowsPersisted += rows.size; persistMs += ms
            }
          case "find" =>
            val id = op.get("id").asLong
            timedOp(s"find $id")(trace.span("core", "TypedTable.find")(tt.find(id))).foreach {
              case (got, ms) =>
                sample("read", ms); lsample("core.find_ms", ms)
                rowsReturned += got.size
                val exp = model.get(id)
                if (got != exp) fail(s"find($id) = $got, model has $exp")
            }
          case "select" =>
            val (lo, hi, sql) = (op.get("lo").asLong, op.get("hi").asLong, op.get("sql").asText)
            timedOp(sql)(select(sql)).foreach { case (rows, ms) =>
              sample("read", ms); lsample("core.select_ms", ms)
              rowsReturned += rows.length
              val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
                r.getString(4))).toSeq.sorted
              val exp = model.range(lo, hi).values.map(o => (o.o_orderkey, o.o_custkey,
                o.o_orderstatus, o.o_totalprice, o.o_orderpriority)).toSeq.sorted
              if (got != exp) fail(s"$sql: ${got.size} rows, model has ${exp.size}")
            }
          case "process" =>
            val (lo, hi, sql) = (op.get("lo").asLong, op.get("hi").asLong, op.get("sql").asText)
            val victims = model.range(lo, hi).values.filter(_.o_orderstatus == "P").map(_.o_orderkey).toSeq
            timedOp(sql)(trace.span("core", "TableStore.process")(process(sql))).foreach {
              case (n, ms) =>
                sample("process", ms); lsample("core.process_ms", ms)
                if (n != victims.size) fail(s"$sql consumed $n rows, model expects ${victims.size}")
            }
            victims.foreach(model.remove)
        }
      }
    }
  }

  def check(): Unit = {
    if (args.plantWrong) { // self-test: the model disagrees with the store on one row
      val (id, o) = model.last
      model(id) = o.copy(o_totalprice = o.o_totalprice + 1)
    }
    // the store as a whole must equal the model at the end of the run
    attempted += 1
    val got = tt.ds.collect().sortBy(_.o_orderkey).toSeq
    if (got != model.values.toSeq) fail(s"final store has ${got.size} rows, model ${model.size}")
    val (bytes, files) = Workload.dirBytesAndFiles(storeDir)
    lsample("core.store_files", files.toDouble)
    lsample("core.store_versions", tt.store.versions.size.toDouble)
    lsample("core.store_bytes_per_row", bytes.toDouble / math.max(1, model.size))
    lsample("core.bytes_written_per_row", bytes.toDouble / math.max(1L, rowsPersisted + loadRows))
  }

  override def extra: Map[String, Any] = Map(
    "rows_persisted" -> rowsPersisted, "persist_ms" -> persistMs, "live_rows" -> model.size)
}

object PersistFind {
  /** Ops of the seeded sequence run before timing starts: JIT and Spark
    * caches are still warming for several seconds after the first ops. */
  val WarmupOps = 20
}

/** stream_tail: an open-loop generator appends a chunk in every
  * --chunk-ms slot while two dialect consumers tail the same table.
  *
  * There is no streamed `WINDOW BY` consumer: the store links a commit's
  * files into the stream source one at a time and in no id order, so a
  * trigger can see part of a commit, and the count window then takes
  * later ids before earlier ones and differs from the batch statement
  * (see README.md, "Left out"). */
final class StreamTail(spark: SparkSession, args: Main.Args, trace: Trace)
    extends Workload(spark, args, trace) {
  import spark.implicits._
  private val gs = new GraftSession(spark)
  private val storeDir = dir("store", "events")
  private var tt: TypedTable[Ev] = _
  private var c1: graft.streaming.StreamHandle = _
  private var c2: graft.streaming.StreamProcess.Handle = _
  private val seen1 = new ConcurrentHashMap[java.lang.Long, Array[Long]]()
  private val persisted = mutable.ArrayBuffer.empty[Ev]
  private val chunkDue = mutable.ArrayBuffer.empty[(Seq[Ev], Long)]
  @volatile private var polling = true

  private def evs(r: JsonNode, due: Long): Seq[Ev] = {
    def col(n: String) = r.get(n).elements().asScala.toIndexedSeq
    val (id, k, v) = (col("event_id"), col("kind"), col("value"))
    id.indices.map(i => Ev(id(i).asLong, k(i).asInt, v(i).asLong, due))
  }

  private def pollOnce(): Unit = {
    val now = System.currentTimeMillis()
    c1.pollAll().foreach { r =>
      seen1.compute(r.getLong(0), (_, v) => if (v == null) Array(1L, now) else Array(v(0) + 1, v(1)))
    }
  }

  private val poller = new Thread(() => while (polling) { pollOnce(); Thread.sleep(2) })

  def setup(): Unit = {
    Files.createDirectories(storeDir.getParent)
    Collect.seen.clear()
    tt = gs.registerEntity[Ev]("events", storeDir.toString)
    val backlog = evs(header.get("load"), 0L)
    trace.span("core", "TypedTable.persist")(tt.persist(backlog))
    persisted ++= backlog
    c1 = gs.executeStream("select stream e.event_id id, e.due_ms d from events e where e.kind = 1")
    c2 = gs.executeStreamProcess(
      "process stream e.event_id from events e within 'perfbench.Collect' where e.kind = 2", Collect)
    drain()
    poller.setDaemon(true)
    poller.start()
    // warm-up: a fixed number of chunks, each persisted and drained
    // through both consumers before the next; not measured
    for (_ <- 0 until StreamTail.WarmupChunks) {
      val chunk = evs(it.next().get("rows"), System.currentTimeMillis())
      timedOp("persist chunk")(trace.span("core", "TypedTable.persist")(tt.persist(chunk)))
      persisted ++= chunk
      drain()
    }
  }

  private def drain(): Unit = {
    c1.processAllAvailable(); c2.processAllAvailable()
    pollOnce()
  }

  private lazy val it = ops()

  /** Persist one chunk in each --chunk-ms slot for `seconds`, at the
    * seeded point of the slot; each row carries its chunk's due time. A
    * late generator catches up without skipping. */
  private def schedule(seconds: Double): Unit = {
    val t0 = System.currentTimeMillis() + 50
    var i = 0
    while (i * args.chunkMs < seconds * 1000) {
      val op = it.next()
      val due = t0 + ((i + op.get("at").asDouble) * args.chunkMs).toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lsample("load.gen_late_ms", (System.currentTimeMillis() - due).toDouble)
      val chunk = evs(op.get("rows"), due)
      trace.span("op", "chunk") {
        timedOp("persist chunk")(trace.span("core", "TypedTable.persist")(tt.persist(chunk)))
          .foreach { case (_, ms) => sample("write", ms); lsample("core.persist_ms", ms) }
      }
      persisted ++= chunk
      if (timing) chunkDue += ((chunk, due))
      i += 1
    }
  }

  private var timing = false

  def run(): Unit = {
    timing = true
    schedule(args.seconds)
    val k1 = persisted.count(_.kind == 1) - seen1.size
    val k2 = persisted.count(_.kind == 2) - Collect.seen.size
    lsample("load.backlog_rows_end", (k1 + k2).toDouble)
    drain()
    polling = false
    poller.join()
    pollOnce()
    // emission of a chunk: its due time until any consumer sees one of its
    // rows; each consumer's own first arrival is kept for the report
    for ((chunk, due) <- chunkDue) {
      def first(name: String, ids: Seq[Long], at: Long => Option[Long]): Option[Long] =
        if (ids.isEmpty) None else {
          attempted += 1
          val times = ids.flatMap(at(_))
          if (times.isEmpty) fail(s"$name never delivered chunk due at $due")
          else { sample(s"emit.$name", (times.min - due).toDouble); rowsReturned += ids.size }
          times.minOption
        }
      val seen = Seq(
        first("select stream", chunk.filter(_.kind == 1).map(_.event_id),
          id => Option(seen1.get(id)).map(_(1))),
        first("process stream", chunk.filter(_.kind == 2).map(_.event_id),
          id => Option(Collect.seen.get(id)).map(_(1)))).flatten
      if (seen.nonEmpty) sample("emit", (seen.min - due).toDouble)
    }
  }

  def check(): Unit = {
    if (args.plantWrong) { // self-test: one row lost, one delivered twice
      seen1.remove(seen1.keys().nextElement())
      val twice = Collect.seen.values().iterator().next()
      twice(0) += 1
    }
    def exactlyOnce(name: String, want: Seq[Long], got: Long => Long): Unit = {
      attempted += 1
      val bad = want.filter(id => got(id) != 1L)
      if (bad.nonEmpty)
        fail(s"$name: ${bad.size} of ${want.size} rows not delivered exactly once")
    }
    exactlyOnce("select stream", persisted.filter(_.kind == 1).map(_.event_id).toSeq,
      id => Option(seen1.get(id)).map(_(0)).getOrElse(0L))
    val kind2 = persisted.filter(_.kind == 2).map(_.event_id).toSeq
    exactlyOnce("process stream", kind2, id => Option(Collect.seen.get(id)).map(_(0)).getOrElse(0L))
    lsample("cep.stream_processed_ratio", c2.processedCount.toDouble / math.max(1, kind2.size))
    val (bytes, files) = Workload.dirBytesAndFiles(storeDir)
    lsample("core.store_files", files.toDouble)
    lsample("core.store_versions", tt.store.versions.size.toDouble)
    lsample("core.store_bytes_per_row", bytes.toDouble / math.max(1, persisted.size))
    lsample("core.bytes_written_per_row", bytes.toDouble / math.max(1, persisted.size))
    val late = layer.remove("load.gen_late_ms").map(_.toSeq).getOrElse(Seq.empty)
    lsample("load.gen_late_p95_ms", Workload.percentile(late, 0.95))
    val prog = StreamTrace.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    if (trace.enabled) {
      layer("streaming.trigger_ms") = mutable.ArrayBuffer(dur("triggerExecution"): _*)
      layer("streaming.planning_ms") = mutable.ArrayBuffer(dur("queryPlanning"): _*)
      layer("streaming.latest_offset_ms") = mutable.ArrayBuffer(dur("latestOffset"): _*)
      layer("streaming.add_batch_ms") = mutable.ArrayBuffer(dur("addBatch"): _*)
      layer("streaming.commit_ms") = mutable.ArrayBuffer(dur("commitOffsets"): _*)
      layer("streaming.rows_per_batch") = mutable.ArrayBuffer(prog.map(_.numInputRows.toDouble): _*)
      lsample("streaming.batches", prog.size.toDouble)
    }
  }

  override def close(): Unit = { c1.stop(); c2.stop() }
  override def extra: Map[String, Any] = Map("rows_persisted" -> persisted.size,
    "chunks" -> chunkDue.size)
}

object StreamTail {
  /** Chunks persisted and drained before timing starts: with a short
    * warm-up the first half of the timed phase was still 10–40 % slower
    * than the second (JIT, micro-batch and listing caches). */
  val WarmupChunks = 6
}

/** pipeline_ops: the ten operator pipelines through SparkEntry.queries,
  * one at a time, each pass in its seeded order. */
final class PipelineOps(spark: SparkSession, args: Main.Args, trace: Trace)
    extends Workload(spark, args, trace) {
  private val tables = dir("tables").toString
  private val reference = mutable.Map.empty[String, String]
  private val warmS = mutable.Map.empty[String, Double]

  private val runs = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def query(q: String): Array[Row] = trace.span("op", q) {
    val df = trace.span("ops", q)(graft.SparkEntry.queries(q)(spark, tables))
    val t = System.nanoTime()
    val rows = trace.span("spark", "collect")(df.collect())
    if (trace.enabled) lsample("spark.action_ms", (System.nanoTime() - t) / 1e6)
    rows
  }

  def setup(): Unit =
    // warm-up pass over the queries of the ops file; its results are
    // checked against the DuckDB oracle hashes by run.py and are the
    // reference for every timed pass
    ops().map(_.get("query").asText).toSeq.distinct.sorted.foreach { q =>
      attempted += 1
      val t = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, tables)
      val rows = df.collect()
      warmS(q) = (System.nanoTime() - t) / 1e9
      reference(q) = Workload.digest(rows)
      // self-test: the stored result of the first query loses a row, so
      // its hash must differ from the DuckDB oracle's
      val stored = if (args.plantWrong && warmS.size == 1) rows.drop(1) else rows
      spark.createDataFrame(stored.toList.asJava, df.schema).coalesce(1)
        .write.parquet(dir("results", q).toString)
    }

  /** Whole passes only: a further pass starts when another one as long
    * as the last still ends within --seconds, so a run measures at least
    * one pass and about --seconds of work. */
  def run(): Unit = {
    val t0 = System.nanoTime()
    val it = ops()
    var pass = -1
    var passMs = 0.0
    var corrupt = args.plantWrong
    var op: JsonNode = it.next()
    def fits = (System.nanoTime() - t0) / 1e6 + passMs <= args.seconds * 1e3
    while (op != null && (op.get("pass").asInt == pass || pass < 0 || fits)) {
      if (op.get("pass").asInt != pass) {
        if (pass >= 0) sample("pass", passMs)
        pass = op.get("pass").asInt; passMs = 0.0
      }
      val q = op.get("query").asText
      runs(q) += 1
      timedOp(q)(query(q)).foreach { case (rows, ms) =>
        sample("latency", ms); lsample(s"ops.${q}_s", ms / 1e3)
        passMs += ms
        rowsReturned += rows.length
        val got = Workload.digest(if (corrupt) rows.drop(1) else rows)
        corrupt = false
        if (got != reference(q)) fail(s"$q: result differs from the checked warm-up result")
      }
      op = if (it.hasNext) it.next() else null
    }
    sample("pass", passMs)
  }

  def check(): Unit = ()
  override def extra: Map[String, Any] = Map("warmup_s" -> warmS.toMap, "runs" -> runs.toMap)
}
