package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Jobs

/** core/Jobs.overlap: ordered results, bounded width, first failure
  * rethrown, no pool thread left behind. */
class JobsSpec extends AnyFunSuite {

  test("results come back in thunk order, run at most width at a time") {
    val running = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    val threads = ConcurrentHashMap.newKeySet[String]()
    val out = Jobs.overlap(3)((1 to 12).map { i => () =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      threads.add(Thread.currentThread.getName)
      Thread.sleep(5L * (12 - i))
      running.decrementAndGet()
      i * i
    })
    assert(out == (1 to 12).map(i => i * i))
    assert(peak.get <= 3 && peak.get >= 2, s"peak concurrency ${peak.get}")
    assert(!threads.contains(Thread.currentThread.getName))
  }

  test("the first failure is rethrown and the pool is shut down") {
    val threads = ConcurrentHashMap.newKeySet[Thread]()
    val sleeping = new CountDownLatch(1)
    val e = intercept[IllegalStateException](Jobs.overlap(2)(Seq(
      () => { threads.add(Thread.currentThread); sleeping.countDown(); Thread.sleep(10000L); 1 },
      () => {
        threads.add(Thread.currentThread); sleeping.await(5, TimeUnit.SECONDS)
        throw new IllegalStateException("boom")
      })))
    assert(e.getMessage == "boom")
    // the sleeping thunk is interrupted, so both pool threads end promptly
    threads.forEach(_.join(5000L))
    assert(threads.size == 2 && !threads.stream.anyMatch(_.isAlive),
      "overlap left a pool thread running")
  }

  test("thunks drawn lazily: the next is built while the previous runs") {
    val firstStarted = new CountDownLatch(1)
    var builtAfterStart = false
    val thunks = Iterator(
      () => { firstStarted.countDown(); Thread.sleep(50L); 1 }) ++ {
      builtAfterStart = firstStarted.await(5, TimeUnit.SECONDS)
      Iterator(() => 2)
    }
    assert(Jobs.overlap(2)(thunks) == Seq(1, 2))
    assert(builtAfterStart, "the second thunk was built before the first ran")
  }
}
