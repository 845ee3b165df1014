package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point on the JVM: runs one workload over inputs written by gen.py and
  * writes `result.json` (raw samples, counts, checks, per-layer metrics)
  * and, when traced, `spans.jsonl` into the run directory. run.py turns
  * these into the printed metrics.
  *
  *   perfbench.Main --workload W --dir RUN_DIR --seconds S --trace 0|1
  *                  [--chunk-ms T] [--plant-wrong]
  */
object Main {
  final case class Args(workload: String, dir: String, seconds: Double, trace: Boolean,
                        chunkMs: Long, plantWrong: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--dir"), need("--seconds").toDouble,
      need("--trace") == "1", kv.getOrElse("--chunk-ms", "750").toLong,
      a.contains("--plant-wrong"))
  }

  val mapper = new ObjectMapper()

  /** Scala values → Jackson-writable Java values. */
  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }

  def readOps(dir: String): (JsonNode, Iterator[JsonNode]) = {
    val lines = Files.lines(Paths.get(dir, "ops.jsonl")).iterator().asScala
    (mapper.readTree(lines.next()), lines.map(l => mapper.readTree(l)))
  }

  /** Heap in use once full GCs stop freeing memory. Spark's cleaner
    * thread frees the broadcasts and blocks of the last queries only after
    * a GC has found them unreachable, so one GC left 99 or 136 MB on
    * pipeline_ops depending on which query ran last. */
  private def settledHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var cur = Double.MaxValue
    var freed = Double.MaxValue
    var rounds = 0
    while (rounds < 8 && freed >= 0.5) { // MB
      System.gc(); Thread.sleep(400); System.gc()
      val now = used
      freed = cur - now
      cur = now
      rounds += 1
    }
    cur
  }

  private def loadAvg: String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadAvg
    val trace = new Trace(args.trace)
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.speculation", "false")
      .config("spark.local.dir", Paths.get(args.dir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(args.dir, "warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    if (args.trace) b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.install(spark)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gc = (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)
    val w: Workload = args.workload match {
      case "dialect_select" => new DialectSelect(spark, args, trace)
      case "persist_find" => new PersistFind(spark, args, trace)
      case "stream_tail" => new StreamTail(spark, args, trace)
      case "pipeline_ops" => new PipelineOps(spark, args, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val (gcMs0, gcN0) = gc
    val t1 = System.nanoTime()
    w.timed()
    val timedS = (System.nanoTime() - t1) / 1e9
    val (gcMs1, gcN1) = gc
    val heapMb = settledHeapMb()
    w.check()
    Thread.sleep(300) // let the listener bus deliver the last task ends
    val layer = w.layerMetrics() ++ Map(
      "jvm.gc_ms" -> (gcMs1 - gcMs0).toDouble, "jvm.gc_count" -> (gcN1 - gcN0).toDouble)
    val result = Map(
      "workload" -> args.workload,
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "heap_retained_mb" -> heapMb,
      "attempted" -> w.attempted,
      "failed" -> w.failures.size,
      "failures" -> w.failures.take(20),
      "samples" -> w.samples,
      "extra" -> w.extra,
      "layer" -> (if (args.trace) layer else Map.empty),
      "provenance" -> Map(
        "nproc" -> cores,
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAvg,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")))
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(args.dir, "result.json").toFile, toJava(result))
    if (args.trace) {
      val out = Files.newBufferedWriter(Paths.get(args.dir, "spans.jsonl"))
      try trace.allSpans.sortBy(_.id).foreach { s =>
        out.write(mapper.writeValueAsString(toJava(Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0)))))
        out.write("\n")
      } finally out.close()
    }
    w.close()
    spark.stop()
  }
}
