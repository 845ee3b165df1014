package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs an action launches, by job group. */
object SparkJobs {

  /** `body`'s result and the number of jobs it launched on this thread. */
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${UUID.randomUUID()}"
    val jobs = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain(sc)
      (out, jobs.get.toInt)
    } finally sc.removeSparkListener(listener)
  }
}
