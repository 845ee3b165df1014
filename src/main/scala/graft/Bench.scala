package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.core.Checkpoints.Pins

/** Benchmark entry: times every `SparkEntry` query at the fast scale
  * (`SPARK_GRAFT_SF_DIR`) and, when a second scale is configured, at a
  * 10× derived corpus, then prints two JSON lines: the full per-query
  * line and, last, a compact summary small enough for a caller that
  * keeps only the tail of the output.
  *
  * Each query is forced end to end with a noop-format write, so every
  * output column is computed.
  *
  * Measurement policy, the same at both scales:
  *   - every timed query runs `base` times in sorted-name sweeps: 2 at
  *     the 10× scale, 3 at the fast scale;
  *   - then any query whose two fastest successful runs differ by more
  *     than max(25 % of the fastest, 0.3 s when it is under 1 s, else
  *     0.15 s) re-runs alone, for up to 3 tie-break rounds;
  *   - retries stop at the scale's deadline (0.6 × budget for the 10×
  *     scale, budget − 180 s for the fast scale); base sweeps are never
  *     cut, and a cut sets `bench_budget.degraded`;
  *   - a query's reading is its fastest successful run, its spread the
  *     second fastest minus the fastest; a query that fails every run
  *     reads −1, and one with fewer than two successes has spread −1;
  *   - `value`/`value_sf2` are the sums of successful readings and
  *     `ratio = value_sf2 / value` (`ratio_denom` = `value`).
  *
  * Once-per-run gate queries (`gateOnce`) are correctness machinery
  * with a large, scale-independent wall; they run once per scale after
  * both timed scales and are reported under `gates`/`gates_sf2`,
  * outside `value` and the ratio.
  *
  * Phase order: warm-up, ingest throughput, the 10× scale, the fast
  * scale, the gate phase, the media probe. Only a two-scale run without
  * `SPARK_GRAFT_ONLY` writes `BENCH.json` in the working directory:
  * after each query-bearing phase as a `"partial":true` line, at the
  * end as the full line.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (fast-scale tables),
  * `SPARK_GRAFT_SF2_DIR` (10× corpus dir, derived from the fast scale
  * only when it does not exist yet; `off` disables; unset derives one
  * automatically for an `sf0.1` fast scale), `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_ONLY` (comma-separated query subset),
  * `SPARK_GRAFT_BENCH_BUDGET_S` (default 2100) and `SPARK_GRAFT_RUNNER`
  * (provenance tag; default `driver-<host>-<date>`).
  */
object Bench {

  /** One query at one scale: fastest successful run and its spread, in
    * seconds (−1 where the policy above says so). */
  final case class Reading(name: String, seconds: Double, spread: Double)

  /** One scale: timed readings in name order, gate-phase walls, and
    * whether the deadline cut tie-break retries. */
  final case class ScaleRun(dir: String, readings: Seq[Reading], cut: Boolean,
                            gates: Seq[(String, Double)] = Nil) {
    def value: Double = readings.map(_.seconds).filter(_ >= 0).sum
    def errors: Seq[String] = readings.collect { case r if r.seconds < 0 => r.name }
  }

  final case class Media(tag: String, mb: Double, rowsPerSec: Double, mbPerSec: Double)

  /** Everything one bench process measured; phases not yet run are
    * empty. `sf2Dir` is the planned 10× corpus, `sf2` its measurement. */
  final case class Result(sf: String, runner: String, budgetS: Double, sf2Dir: Option[String],
                          ingest: Double, sf2: Option[ScaleRun] = None,
                          fast: Option[ScaleRun] = None, metrics: Seq[(String, Long)] = Nil,
                          media: Seq[Media] = Nil, wallS: Double = 0) {
    def ratio: Option[Double] =
      for (f <- fast; s <- sf2 if f.value > 0) yield s.value / f.value
    def degraded: Boolean = sf2.exists(_.cut) || fast.exists(_.cut)
    def sf2Failed: Boolean = sf2Dir.isDefined && sf2.isEmpty
  }

  val TieBreakRounds = 3
  val RatioDef = "value_sf2 / value: per-query fastest successful run summed at each scale, gate phase excluded"
  private val gateOnce: Set[String] = Set("q_dedup_saturated")

  def settled(runs: Seq[Double]): Boolean = {
    val ok = runs.filter(_ >= 0).sorted
    ok.size >= 2 && ok(1) - ok(0) <= math.max(0.25 * ok(0), if (ok(0) < 1.0) 0.3 else 0.15)
  }

  private def reading(name: String, runs: Seq[Double]): Reading =
    runs.filter(_ >= 0).sorted match {
      case Seq() => Reading(name, -1.0, -1.0)
      case Seq(t) => Reading(name, t, -1.0)
      case best +: next +: _ => Reading(name, best, next - best)
    }

  /** The measurement policy at one scale. `run` times one query (−1 on
    * failure); `elapsedS` is the clock the deadline is read against. */
  def measure(dir: String, names: Seq[String], base: Int, deadlineS: Double,
              run: String => Double, elapsedS: () => Double): ScaleRun = {
    val runs = scala.collection.mutable.Map(names.map(_ -> Vector.empty[Double]): _*)
    for (_ <- 1 to base; n <- names) runs(n) :+= run(n)
    var cut = false
    var round = 0
    var retry = names.filterNot(n => settled(runs(n)))
    while (retry.nonEmpty && round < TieBreakRounds && !cut) {
      System.err.println(s"[bench] tie-break round ${round + 1} for ${retry.size} queries: " +
        retry.mkString(", "))
      val it = retry.iterator
      while (it.hasNext && !cut) {
        if (elapsedS() >= deadlineS) cut = true
        else { val n = it.next(); runs(n) :+= run(n) }
      }
      round += 1
      retry = retry.filterNot(n => settled(runs(n)))
    }
    if (cut) System.err.println(f"[bench] tie-break deadline ($deadlineS%.0f s) reached; " +
      "unsettled spreads ship as measured: " + retry.mkString(", "))
    ScaleRun(dir, names.map(n => reading(n, runs(n))), cut)
  }

  private def num(x: Double, digits: Int): String = s"%.${digits}f".formatLocal(Locale.ROOT, x)
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private def secs(kv: Seq[(String, Double)]): String = obj(kv.map { case (k, v) => k -> num(v, 3) })
  private def list(names: Seq[String]): String = names.map(str).mkString("[", ",", "]")

  private def sentinel(r: Result): Seq[(String, String)] =
    if (r.sf2Failed) Seq("errors_sf2" -> list(Seq("__sf2_phase__")), "sf2_phase_failed" -> "true")
    else Nil

  /** The full line; with `partial`, the flush written between phases. */
  def full(r: Result, partial: Boolean = false): String = {
    def scale(s: ScaleRun, suffix: String) = Seq(
      s"queries$suffix" -> secs(s.readings.map(q => q.name -> q.seconds)),
      s"errors$suffix" -> list(s.errors),
      s"spreads$suffix" -> secs(s.readings.map(q => q.name -> q.spread)))
    obj((if (partial) Seq("partial" -> "true") else Nil) ++
      Seq("metric" -> str("total")) ++
      r.fast.toSeq.flatMap(f => Seq("value" -> num(f.value, 3), "unit" -> str("sec"))) ++
      Seq("bench_budget" -> obj(Seq("budget_s" -> num(r.budgetS, 0),
        "degraded" -> r.degraded.toString))) ++
      r.ratio.toSeq.flatMap(x => Seq("ratio" -> num(x, 3),
        "ratio_denom" -> num(r.fast.get.value, 3), "ratio_def" -> str(RatioDef))) ++
      sentinel(r) ++
      r.fast.toSeq.flatMap(scale(_, "")) ++
      Seq("ingest_rows_per_sec" -> num(r.ingest, 0)) ++
      r.fast.filter(_.gates.nonEmpty).map(f => "gates" -> secs(f.gates)) ++
      r.sf2.filter(_.gates.nonEmpty).map(s => "gates_sf2" -> secs(s.gates)) ++
      (if (r.metrics.isEmpty) Nil
       else Seq("metrics" -> obj(r.metrics.map { case (k, v) => k -> v.toString }))) ++
      (if (r.media.isEmpty) Nil
       else Seq("media_mb" -> obj(r.media.flatMap(m => Seq(s"${m.tag}_mb" -> num(m.mb, 1),
         s"${m.tag}_rows_per_sec" -> num(m.rowsPerSec, 1),
         s"${m.tag}_mb_per_sec" -> num(m.mbPerSec, 1)))))) ++
      Seq("runner" -> str(r.runner), "sf" -> str(r.sf)) ++
      r.sf2.toSeq.flatMap(s => ("value_sf2" -> num(s.value, 3)) +: scale(s, "_sf2") :+
        ("sf2" -> str(s.dir))) ++
      Seq("wall_s" -> num(r.wallS, 1)))
  }

  /** The compact last line: headline numbers only, pointing at
    * `BENCH.json` for the per-query detail. */
  def compact(r: Result): String = obj(
    Seq("metric" -> str("total")) ++
      r.fast.toSeq.flatMap(f => Seq("value" -> num(f.value, 3), "unit" -> str("sec"),
        "n_queries" -> f.readings.size.toString, "n_errors" -> f.errors.size.toString)) ++
      Seq("ingest_rows_per_sec" -> num(r.ingest, 0)) ++
      r.sf2.toSeq.flatMap(s => Seq("value_sf2" -> num(s.value, 3),
        "n_errors_sf2" -> s.errors.size.toString)) ++
      r.ratio.map(x => "ratio" -> num(x, 3)) ++
      sentinel(r) ++
      Seq("runner" -> str(r.runner), "sf" -> str(r.sf), "queries_detail" -> str("BENCH.json")))

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val elapsedS = () => (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S").map(_.toDouble).getOrElse(2100.0)
    val runner = sys.env.getOrElse("SPARK_GRAFT_RUNNER", {
      val host = try java.net.InetAddress.getLocalHost.getHostName.takeWhile(_ != '.')
        catch { case NonFatal(_) => "localhost" }
      s"driver-$host-${java.time.LocalDate.now(java.time.ZoneOffset.UTC)}"
    })
    // The 10× corpus: an explicit dir, `off`, or (unset) one derived
    // from an sf0.1 fast scale, keyed by user and a content fingerprint
    // of the source tables so a stale or foreign dir is never reused.
    val sf2Env = sys.env.get("SPARK_GRAFT_SF2_DIR")
    val sf2Dir: Option[String] = sf2Env match {
      case Some(v) if Set("", "off", "none", "skip")(v.trim.toLowerCase) => None
      case Some(v) => Some(v)
      case None if sfDir.stripSuffix("/").endsWith("sf0.1") =>
        val user = sys.props.getOrElse("user.name", "u").replaceAll("[^A-Za-z0-9_-]", "_")
        val fp = graft.tools.ScaleUp.fingerprintHash(sfDir, factor = 10)
        Some(new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_sf1_${user}_$fp").toString)
      case None => None
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      // 1 MB splits (paired with ScaleUp's 1 MB row groups) keep scans of
      // the single-file tables on all cores; AQE re-coalesces downstream
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // PROCESS callbacks are at-least-once under task retries; no
      // speculative duplicates in the bench session (see SCALE.md)
      .config("spark.speculation", "false")
      // q_remote (S8) runs the dialect through the Thrift endpoint
      .config("spark.sql.extensions", "graft.remote.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.core.TempDirs.create("graft_wh_"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.remote.GraftServer.quietMetastoreLogs()

    // warm-up: JVM/codegen/parquet-reader initialization is not billed
    // to whichever query sorts first, and Thrift endpoint startup is
    // deployment cost (a failure shows as q_remote's −1)
    graft.core.Tables.load(spark, sfDir, "region").count()
    graft.core.Tables.load(spark, sfDir, "lineitem").limit(1000)
      .write.format("noop").mode("overwrite").save()
    try graft.queries.RemoteQueries.endpoint(spark, sfDir)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] remote endpoint warm-up failed: ${e.getMessage}") }

    // Gates pin results with cache() or the Checkpoints seam; the blocks
    // each query created are dropped as soon as its write returns, so
    // old-gen pressure does not build up across the run.
    def runOnce(name: String, dir: String): Double = {
      val (secs, free) = graft.core.Checkpoints.persistedDuring(spark.sparkContext) {
        val q0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - q0) / 1e9
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      free()
      secs
    }
    val selected = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n)))
    val (gated, timed) = selected.partition(gateOnce)
    def measureAt(dir: String, base: Int, deadlineS: Double): ScaleRun =
      measure(dir, timed, base, deadlineS, runOnce(_, dir), elapsedS)
    def gates(dir: String): Seq[(String, Double)] = gated.map(n => n -> runOnce(n, dir))

    val writeArtifact = sf2Dir.isDefined && only.isEmpty
    def writeArtifactLine(line: String): Unit =
      if (writeArtifact)
        try Files.write(Paths.get("BENCH.json"), (line + "\n").getBytes("UTF-8"))
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] could not write BENCH.json: ${e.getMessage}") }
    def flush(r: Result): Unit = writeArtifactLine(full(r.copy(wallS = elapsedS()), partial = true))

    var result = Result(sfDir, runner, budgetS, sf2Dir, ingest = ingestRate(spark))

    val sf2 = sf2Dir.flatMap { dir =>
      try {
        if (derivesCorpus(explicit = sf2Env.isDefined, dir)) ensureScaledCorpus(spark, sfDir, dir)
        graft.queries.RemoteQueries.rebind(dir)
        Some(measureAt(dir, base = 2, deadlineS = 0.6 * budgetS))
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] sf2 scaling pass failed (ignored): ${e.getMessage}")
        None
      }
    }
    result = result.copy(sf2 = sf2)
    if (sf2.isDefined) flush(result)
    if (sf2Dir.isDefined)
      try graft.queries.RemoteQueries.rebind(sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] rebind back to $sfDir failed: ${e.getMessage}") }

    result = result.copy(fast = Some(measureAt(sfDir, base = 3, deadlineS = budgetS - 180)))
    flush(result)

    result = result.copy(fast = result.fast.map(_.copy(gates = gates(sfDir))),
      sf2 = result.sf2.map(s => s.copy(gates = gates(s.dir))))
    if (gated.nonEmpty) flush(result)

    result = result.copy(media = mediaProbe(spark))
    val snap = graft.core.Metrics.snapshot
    result = result.copy(metrics = MetricKeys.map(k => k -> snap.get(k).map(_.count).getOrElse(0L)))

    // Teardown BEFORE the result lines, at ERROR level: endpoint and
    // session shutdown can log, and nothing may follow the compact line.
    spark.sparkContext.setLogLevel("ERROR")
    try graft.queries.RemoteQueries.stopAll()
    catch { case NonFatal(e) => System.err.println(s"[bench] endpoint stop: ${e.getMessage}") }
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[bench] spark stop: ${e.getMessage}") }

    result = result.copy(wallS = elapsedS())
    val line = full(result)
    if (writeArtifact) writeArtifactLine(line)
    else System.err.println("[bench] single-scale or subset run: BENCH.json not rewritten (stdout only)")
    println(line)
    println(compact(result))
    System.out.flush()
  }

  // Operational counters over the whole run (core/Metrics): dialect
  // statements, TableStore chunk writes, micro-batches, local actions,
  // and the dedup indexes' skew guards (nonzero saturated/capped counts
  // signal a bucket driven past maxBucket).
  private val MetricKeys = Seq("timer.executeQuery", "timer.persistInsertChunk",
    "timer.remoteTask", "counter.streamBatches", "counter.streamRows", "timer.localTask",
    "counter.minhashIndexSaturatedBuckets", "counter.minhashIndexCappedRows",
    "counter.minhashIndexSplitBuckets",
    "counter.perceptualIndexSaturatedBuckets", "counter.perceptualIndexCappedRows",
    "counter.perceptualIndexSplitBuckets")

  /** Whether the 10× corpus is derived into `dir`: always for the
    * automatic dir, and for an explicit one only when it does not exist
    * yet, so an existing dataset is read and never overwritten. */
  def derivesCorpus(explicit: Boolean, dir: String): Boolean =
    !explicit || !new java.io.File(dir).exists

  /** Generates the 10× corpus at `dir` unless a complete one from the
    * same source content is there; a file lock keeps two processes
    * from writing one dir. */
  private def ensureScaledCorpus(spark: SparkSession, srcDir: String, dir: String): Unit =
    if (!graft.tools.ScaleUp.isComplete(dir, srcDir, 10)) {
      System.err.println(s"[bench] generating 10x derived scaling corpus at $dir " +
        "(one-time, reused while source content is unchanged)")
      val ch = java.nio.channels.FileChannel.open(Paths.get(dir + ".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try if (!graft.tools.ScaleUp.isComplete(dir, srcDir, 10))
          graft.tools.ScaleUp.scaleUp(spark, srcDir, dir, 10)
        finally lk.release()
      } finally ch.close()
    }

  /** Steady-state ingest (the reference's one published performance
    * figure): best of two 1M-row TableStore appends after a full-size
    * warm append. */
  private def ingestRate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val nRows = 1000000L
    val df = spark.range(nRows).select(
      col("id"),
      (rand(42) * 1000.0).as("value"),
      concat(lit("user_"), (col("id") % 1000)).as("tag"),
      (col("id") % 32).as("part"))
    def timedAppend(prefix: String): Double = {
      val dir = Files.createTempDirectory(prefix)
      try {
        val store = new graft.core.TableStore(spark, dir.toString, "id")
        val a0 = System.nanoTime()
        store.append(df)
        nRows / ((System.nanoTime() - a0) / 1e9)
      } finally graft.core.TempDirs.deleteRecursively(dir)
    }
    timedAppend("graft_ingest_warm_")
    (1 to 2).map(_ => timedAppend("graft_ingest_")).max
  }

  /** MB-payload decode throughput: ~1 MB noise JPEGs, PCM WAVs and
    * MJPEG clips rendered on executors and pinned, then each modality's
    * fused decode+hash kernel, best of two. Empty if the probe fails. */
  private def mediaProbe(spark: SparkSession): Seq[Media] = try {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Column, Row}
    val nRows = 32
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    def probe(tag: String, render: Long => Array[Byte], kernel: Column => Column): Media =
      spark.range(nRows.toLong).toDF("id")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions(_.map(r => Row(r.getLong(0), render(r.getLong(0)))))
        .withPin { df =>
          val mb = df.agg(sum(octet_length(col("payload")))).head().getLong(0) / 1e6
          val secs = (1 to 2).map { _ =>
            val p0 = System.nanoTime()
            val ok = df.filter(kernel(col("payload")).isNotNull).count()
            require(ok == nRows, s"media_mb $tag: only $ok/$nRows payloads decoded")
            (System.nanoTime() - p0) / 1e9
          }.min
          Media(tag, mb, nRows / secs, mb / secs)
        }
    // dims sized so each payload lands ~1 MB (JPEG spends ~0.6
    // bytes/pixel on LCG noise; WAV is exact: 65×8000 samples × 2 B)
    Seq(
      probe("image",
        id => graft.ops.Multimodal.renderNoiseImage(1600, 1072, "jpeg", id),
        graft.functions.ImageHashFunctions.dhash64),
      probe("audio",
        id => graft.ops.Multimodal.renderWalkWav(8000, 44100, seed = id),
        graft.functions.MediaHashFunctions.audioFp64),
      probe("video",
        id => graft.ops.Multimodal.muxAvi(
          (0 until 22).map(i => graft.ops.Multimodal.renderNoiseImage(320, 240, "jpeg", id * 131L + i)),
          320, 240, 40000),
        graft.functions.MediaHashFunctions.videoDHash64))
  } catch { case NonFatal(e) =>
    System.err.println(s"[bench] media_mb probe failed (ignored): ${e.getMessage}")
    Nil
  }
}
