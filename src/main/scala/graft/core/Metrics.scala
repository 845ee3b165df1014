package graft.core

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.ObjectName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Operational metrics for the engine lifecycle — the observability
  * surface the reference registers at instance startup
  * (core/Instance.java:405-424 registerMetrics; metrics/Metrics.java
  * MBean registry). Same shape: named timers/counters in a JVM-global
  * registry, published as JMX MBeans, readable in-process via
  * [[Metrics.snapshot]]. Timer names reuse the reference's where the
  * operation maps 1:1 (`executeQuery`, `persistGetChunk`,
  * `persistInsertChunk`, `remoteTask`, `localTask`); Spark-side
  * progress that has no reference counterpart (structured-streaming
  * batches) gets `streamBatches`/`streamRows`.
  *
  * Recording is lock-free (LongAdder/CAS max) — a timer on the persist
  * hot path must never serialize writers.
  */
object Metrics {

  final class Timer private[Metrics] (val name: String) extends TimerMBean {
    private val nCalls = new LongAdder
    private val totalNanos = new LongAdder
    private val maxNanos = new AtomicLong(0L)

    def time[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally record(System.nanoTime() - t0)
    }

    def record(nanos: Long): Unit = {
      nCalls.increment()
      totalNanos.add(nanos)
      var cur = maxNanos.get()
      while (nanos > cur && !maxNanos.compareAndSet(cur, nanos)) cur = maxNanos.get()
    }

    override def getCount: Long = nCalls.sum()
    override def getTotalMillis: Double = totalNanos.sum() / 1e6
    override def getMeanMillis: Double = {
      val n = nCalls.sum(); if (n == 0) 0.0 else totalNanos.sum() / 1e6 / n
    }
    override def getMaxMillis: Double = maxNanos.get() / 1e6
  }

  final class Counter private[Metrics] (val name: String) extends CounterMBean {
    private val n = new LongAdder
    def add(delta: Long): Unit = n.add(delta)
    def inc(): Unit = n.increment()
    override def getCount: Long = n.sum()
  }

  trait TimerMBean {
    def getCount: Long
    def getTotalMillis: Double
    def getMeanMillis: Double
    def getMaxMillis: Double
  }
  trait CounterMBean {
    def getCount: Long
  }

  final case class Snapshot(count: Long, totalMillis: Double, maxMillis: Double)

  private val timers = new ConcurrentHashMap[String, Timer]()
  private val counters = new ConcurrentHashMap[String, Counter]()
  private val mbs = ManagementFactory.getPlatformMBeanServer

  private def jmxRegister(kind: String, name: String, bean: AnyRef): Unit =
    try {
      val on = new ObjectName(s"graft.metrics:type=$kind,name=$name")
      if (!mbs.isRegistered(on)) mbs.registerMBean(bean, on)
    } catch { case scala.util.control.NonFatal(_) => () } // JMX publication is best-effort

  def timer(name: String): Timer =
    timers.computeIfAbsent(name, n => { val t = new Timer(n); jmxRegister("Timer", n, t); t })

  def counter(name: String): Counter =
    counters.computeIfAbsent(name, n => { val c = new Counter(n); jmxRegister("Counter", n, c); c })

  /** In-process view of every metric — what a production operator's
    * health endpoint would serve. */
  def snapshot: Map[String, Snapshot] = {
    import scala.jdk.CollectionConverters._
    timers.asScala.map { case (k, t) =>
      s"timer.$k" -> Snapshot(t.getCount, t.getTotalMillis, t.getMaxMillis) }.toMap ++
    counters.asScala.map { case (k, c) =>
      s"counter.$k" -> Snapshot(c.getCount, 0.0, 0.0) }.toMap
  }

  // ---- Spark listener bridge ------------------------------------------

  /** `localTask` (reference name for locally-executed work units):
    * every successful DataFrame action on the session, timed by Spark
    * itself; failures count separately. */
  private final class ExecListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timer("localTask").record(durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      counter("localTaskFailures").inc()
  }

  /** Streaming progress: batches and input rows per micro-batch
    * (Structured Streaming's progress events — the counterpart of the
    * reference's syncFrameEvent/syncQueue stream bookkeeping). */
  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      counter("streamQueriesStarted").inc()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      counter("streamBatches").inc()
      counter("streamRows").add(e.progress.numInputRows)
      timer("streamBatchDuration").record(
        e.progress.batchDuration * 1000000L) // ms → ns
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      counter("streamQueriesTerminated").inc()
  }

  // weak keys: an abandoned isolated session copy must stay collectable
  private val installed = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Idempotently attach the listener bridge to a session (identity-
    * keyed so isolated session copies don't double-install). Called by
    * GraftSession's constructor — every engine session is observable by
    * default, like the reference's instance-startup registration. */
  def install(spark: SparkSession): Unit = {
    if (installed.add(spark)) {
      spark.listenerManager.register(new ExecListener)
      spark.streams.addListener(new StreamListener)
    }
  }
}
