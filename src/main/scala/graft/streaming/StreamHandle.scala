package graft.streaming

import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Client-facing stream result handle mirroring the reference's
  * `StreamQueue` poll/stop API (reference S7: sql/StreamQueue.java:40-134
  * — a queue BOUNDED at 10 000, `poll()` returns next row or null,
  * `stop()` ends the continuous query; per-session resume via stream
  * frame pointers).
  *
  * Spark-native shape: `foreachBatch` feeds each micro-batch into a
  * bounded driver-side queue. Polling is O(1) per row — no re-collect
  * of previously produced results — and a full queue blocks the
  * micro-batch thread, which is exactly the reference's producer
  * backpressure. Resume-from-last-position comes from
  * checkpointLocation: a new handle started with the same checkpoint
  * continues past all previously consumed source offsets (replaces
  * persistent/Session.java:694-700 bookkeeping).
  */
final class StreamHandle private (query: StreamingQuery,
                                  queue: LinkedBlockingQueue[Row]) {

  /** For session-scoped lifecycle (ALTER SYSTEM SHUTDOWN stops only
    * the owning session's queries). */
  private[graft] def queryId: java.util.UUID = query.id

  /** Next unread result row, if any has been produced. Non-blocking,
    * like the reference's StreamQueue.poll timeout form. */
  def poll(): Option[Row] = Option(queue.poll())

  /** Drain everything currently produced. */
  def pollAll(): Seq[Row] = {
    val buf = new java.util.ArrayList[Row]()
    queue.drainTo(buf)
    scala.jdk.CollectionConverters.ListHasAsScala(buf).asScala.toSeq
  }

  /** Block until all currently-available source data is processed. */
  def processAllAvailable(): Unit = query.processAllAvailable()

  def isActive: Boolean = query.isActive

  /** End the continuous query (reference: sql/StreamQueue.java:79-83). */
  def stop(): Unit = query.stop()
}

object StreamHandle {

  /** Start a continuous query over `stream` feeding the bounded handle
    * queue. `checkpoint` (optional) enables resume across handles — the
    * reference's continue-from-last-position. `capacity` matches the
    * reference's StreamQueue bound (sql/StreamQueue.java:44). */
  def start(stream: DataFrame, mode: OutputMode,
            checkpoint: Option[String] = None,
            triggerMs: Long = 100L,
            capacity: Int = 10000): StreamHandle = {
    val queue = new LinkedBlockingQueue[Row](capacity)
    var w = stream.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // toLocalIterator keeps at most one partition's rows in driver
        // memory; queue.put blocks when the client lags (backpressure)
        val it = batch.toLocalIterator()
        while (it.hasNext) queue.put(it.next())
        ()
      }
      .trigger(Trigger.ProcessingTime(triggerMs)) // reference tail-poll is 100ms (sql/SQLCursor.java:417-419)
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    new StreamHandle(w.start(), queue)
  }
}
