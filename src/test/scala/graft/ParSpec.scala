package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskKilled
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.exec.Par

class ParSpec extends SparkTestBase {

  private def sc = spark.sparkContext
  // SparkContext's constants for these keys are private[spark]
  private val JobDesc = "spark.job.description"
  private val JobTags = "spark.job.tags"

  private def waitFor(what: String, seconds: Int)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cond, s"$what within $seconds s")
  }

  test("results come back in leg order, whatever order the legs finish in") {
    val tagsBefore = sc.getJobTags()
    val out = Par.run(sc, "par-order", (0 until 6).map(i => () => { Thread.sleep((6 - i) * 40L); i }))
    assert(out === (0 until 6))
    assert(sc.getJobTags() === tagsBefore, "leg tags leaked into the caller's thread")
  }

  test("no more than MaxInFlight legs run at once") {
    val inFlight = new AtomicInteger
    val peak = new AtomicInteger
    Par.run(sc, "par-bound", (0 until 6).map(_ => () => {
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      Thread.sleep(500)
      inFlight.decrementAndGet()
    }))
    assert(peak.get === Par.MaxInFlight)
  }

  test("a driver-only leg that throws comes out of the call, not as a missing result") {
    val e = intercept[IllegalStateException] {
      Par.run(sc, "par-driver", Seq(() => 1, () => throw new IllegalStateException("lost leg"), () => 3))
    }
    assert(e.getMessage === "lost leg")
  }

  test("a leg interrupted while it waits on a nested fan-out still waits for the nested legs") {
    val started = new AtomicInteger
    val ended = new AtomicInteger
    intercept[IllegalStateException] {
      Par.run(sc, "par-outer", Seq(
        () => { Thread.sleep(300); throw new IllegalStateException("outer leg failed") },
        () => Par.run(sc, "par-inner", (0 until 2).map(_ => () => {
          started.incrementAndGet()
          try Thread.sleep(10000) finally ended.incrementAndGet()
        }))))
    }
    assert(started.get === 2)
    assert(ended.get === 2, "a nested leg outlived the call")
  }

  test("every leg's jobs carry the caller's local properties and tags plus the leg's own tag") {
    val starts = new ConcurrentLinkedQueue[java.util.Properties]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(p =>
          Option(p.getProperty(JobDesc)).exists(_.startsWith("par-props")))
          .foreach(starts.add(_))
    }
    sc.setLocalProperty("graft.test.span", "span-7")
    sc.addJobTag("caller-tag")
    try listening(l) {
      Par.run(sc, "par-props", Seq(
        () => spark.range(100).count(),
        () => spark.range(50).groupBy(col("id") % 3).count().collect().length.toLong))
    } finally {
      sc.setLocalProperty("graft.test.span", null)
      sc.removeJobTag("caller-tag")
    }
    val byLeg = starts.asScala.toSeq.groupBy(_.getProperty(JobDesc))
    assert(byLeg.keySet === Set("par-props leg 1/2", "par-props leg 2/2"))
    for ((leg, props) <- byLeg; p <- props) {
      assert(p.getProperty("graft.test.span") === "span-7", leg)
      val tags = p.getProperty(JobTags).split(",").toSet
      assert(tags.contains("caller-tag"), leg)
      assert(tags.exists(_.startsWith("graft-par-")), leg)
    }
    // the two legs' own tags differ
    assert(byLeg.values.map(_.head.getProperty(JobTags)).toSet.size === 2)
  }

  test("a failing leg cancels its sibling's running job and the call throws promptly") {
    val running = new CountDownLatch(2)
    val results = new ConcurrentLinkedQueue[JobResult]
    val killed = new AtomicInteger
    val l = new SparkListener {
      private def ours(p: java.util.Properties) = Option(p)
        .flatMap(x => Option(x.getProperty(JobDesc)))
        .contains("par-cancel leg 1/2")
      private val jobs = new ConcurrentLinkedQueue[Int]
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(e.jobId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit = running.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) results.add(e.jobResult)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason.isInstanceOf[TaskKilled]) killed.incrementAndGet()
    }
    listening(l) {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.run(sc, "par-cancel", Seq(
          () => sc.parallelize(1 to 2, 2).map { x => Thread.sleep(60000); x }.count(),
          () => {
            assert(running.await(30, TimeUnit.SECONDS), "sibling tasks never started")
            throw new IllegalStateException("leg 2 failed")
          }))
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage === "leg 2 failed")
      assert(e.getSuppressed.length === 1, "the cancelled sibling's failure rides as suppressed")
      assert(seconds < 30, f"call took $seconds%.1f s; the sibling sleeps 60 s")
      // interrupt-on-cancel: the sleeping tasks end as killed, well before 60 s
      waitFor("both sleeping tasks killed", 20)(killed.get >= 2)
    }
    assert(results.asScala.toSeq.nonEmpty && results.asScala.forall(_ != JobSucceeded),
      s"sibling job results: ${results.asScala.toSeq}")
  }
}
