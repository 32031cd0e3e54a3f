package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

/** The most memory the program keeps live while ops run, independent of
  * the heap size the JVM was given and of garbage not yet collected: while
  * `body` runs extra ops, a thread looks at the heap every [[PeriodMs]] and
  * forces a full collection, reading the heap in use right after it. The
  * result is the largest such reading plus the non-heap in use (code,
  * metaspace). The live heap is never more than the heap in use, so a look
  * that finds no more in use than the largest reading so far skips the
  * collection: it could not raise the result. The forced collections slow
  * the ops down, so their walls are not used.
  */
object Memory {
  val PeriodMs = 10L

  /** Runs `body` under the sampler; returns MB (10^6 B) and the number of collections. */
  def peakLiveMb(body: => Unit): (Double, Int) = {
    val mx = ManagementFactory.getMemoryMXBean
    val peak = new AtomicLong(0L)
    val samples = new AtomicLong(0L)
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        if (mx.getHeapMemoryUsage.getUsed > peak.get) {
          mx.gc()
          peak.accumulateAndGet(mx.getHeapMemoryUsage.getUsed, (a, b) => math.max(a, b))
          samples.incrementAndGet()
        }
        Thread.sleep(PeriodMs)
      }
    }, "perfbench-memory")
    sampler.setDaemon(true)
    sampler.start()
    try body
    finally {
      running = false
      sampler.join()
    }
    ((peak.get + mx.getNonHeapMemoryUsage.getUsed) / 1e6, samples.get.toInt)
  }
}
