package graft.exec

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.SparkContext

/**
 * Driver-side fan-out: the one place that decides how independent driver
 * legs (Spark actions or driver-only compute) run concurrently and fail.
 * Results come back in leg order, with at most [[MaxInFlight]] legs
 * running. Each leg runs on a thread created by this call, so it inherits
 * the caller's Spark local properties (job group, job tags, a tracer's
 * span key), and adds its own job tag, a `"<op> leg i/n"` description and
 * interrupt-on-cancel. The first failure (an interrupt of the caller
 * included) cancels every leg's jobs, interrupts the other legs and keeps
 * unstarted ones from starting; once every leg has ended it is rethrown,
 * the others attached as suppressed.
 */
object Par {

  /** Legs in flight at once: a few jobs fill the scheduler, more only queue. */
  val MaxInFlight = 4

  private val calls = new AtomicLong

  def run[A](sc: SparkContext, op: String, legs: Seq[() => A]): Seq[A] = {
    val n = legs.size
    val call = calls.incrementAndGet()
    val tags = (0 until n).map(i => s"graft-par-$call-$i")
    val out = new Array[Any](n)
    val first = new AtomicReference[Throwable]
    val others = new ConcurrentLinkedQueue[Throwable]
    val slots = new Semaphore(MaxInFlight)
    val threads = new Array[Thread](n)
    def cancelAll(): Unit = tags.foreach(sc.cancelJobsWithTag(_, s"$op: a leg failed"))
    def fail(i: Int, e: Throwable): Unit =
      if (first.compareAndSet(null, e)) {
        cancelAll()
        threads.indices.filter(_ != i).foreach(threads(_).interrupt())
      } else others.add(e): Unit
    // every thread exists before any starts, so `fail` can reach them all
    for (i <- 0 until n) threads(i) = new Thread(() =>
      try {
        slots.acquire()
        try if (first.get == null) {
          sc.addJobTag(tags(i))
          sc.setJobDescription(s"$op leg ${i + 1}/$n")
          sc.setInterruptOnCancel(true)
          out(i) = legs(i)()
        } finally slots.release()
      } catch { case e: Throwable => fail(i, e) },
      s"$op-leg-$i")
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch { case e: InterruptedException => fail(-1, e); threads.foreach(_.join()) }
    Option(first.get).foreach { e =>
      cancelAll() // jobs a leg submitted between the first cancel and its interrupt
      others.forEach(e.addSuppressed(_))
      throw e
    }
    out.toSeq.map(_.asInstanceOf[A])
  }
}
