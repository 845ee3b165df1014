package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Spans and counts recorded from outside the program: timers around the
  * benchmark's calls into each module, plus Spark listeners. With tracing
  * off every call is a plain pass-through and no listener is registered.
  * Spans stay in memory and are written out when the run ends. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Time `f` as a span of `layer`, child of the thread's open span. A
    * span with layer "op" starts a new op id. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val op = if (layer == "op") id else outer.headOption.map(_._2).getOrElse(0L)
      stack.set((id, op) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Mark the jobs the current thread submits as belonging to `phase`
    * ("plan": started while a statement is lowered; "action": its fetch). */
  def phase(spark: SparkSession, p: String): Unit =
    if (enabled) spark.sparkContext.setLocalProperty(Trace.PhaseKey, p)

  val jobs = new SparkCounts
  private val joins = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def joinCounts: Map[String, Long] = joins.synchronized(joins.toMap)

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        // the AQE node prints its final plan once the query has run
        val plan = qe.executedPlan.treeString
        joins.synchronized {
          for (k <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
            joins(k) += Trace.occurrences(plan, k)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  private[perfbench] def occurrences(s: String, word: String): Long =
    s.sliding(word.length).count(_ == word).toLong
}

/** Job, stage and task counts per phase, from the Spark listener bus. */
final class SparkCounts extends SparkListener {
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private def c = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  val jobsByPhase, stages, tasks, runMs, shuffleBytes, spillBytes, recordsRead = c

  private def add(m: java.util.concurrent.ConcurrentHashMap[String, LongAdder],
                  k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).add(v)

  private def phaseOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Trace.PhaseKey))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(jobsByPhase, phaseOf(e.properties), 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val ph = phaseOf(e.properties)
    stagePhase.put(e.stageInfo.stageId, ph)
    add(stages, ph, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ph = stagePhase.getOrDefault(e.stageId, "other")
    add(tasks, ph, 1)
    Option(e.taskMetrics).foreach { m =>
      add(runMs, ph, m.executorRunTime)
      add(shuffleBytes, ph, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      add(spillBytes, ph, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(recordsRead, ph, m.inputMetrics.recordsRead)
    }
  }

  def total(m: java.util.concurrent.ConcurrentHashMap[String, LongAdder]): Long =
    m.values.asScala.map(_.sum).sum
  def get(m: java.util.concurrent.ConcurrentHashMap[String, LongAdder], k: String): Long =
    Option(m.get(k)).map(_.sum).getOrElse(0L)
}

/** Streaming progress of every query, including those started on the
  * engine's isolated session clones. Registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`, which is the only way a
  * listener reaches queries on sessions the benchmark does not hold. */
final class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamTrace.progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamTrace {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
}
