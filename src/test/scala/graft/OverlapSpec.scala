package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Overlap

class OverlapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (job group, job tags) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        seen.add((String.valueOf(job.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(job.properties.getProperty("spark.job.tags"))))
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; GraftBus.drain(sc) } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("par carries the caller's job group and tags onto pool threads created under another group") {
    val sc = spark.sparkContext
    // pool threads first created (and so inheriting) under group B
    sc.setJobGroup("B", "stale group")
    Overlap.all((1 to 4).map(_ => () => Thread.sleep(200)))
    try {
      sc.setJobGroup("A", "caller group")
      sc.addJobTag("cycle-a")
      val underA = jobsOf {
        Overlap.all(Seq(
          () => (1 to 3).foreach(i => spark.range(100L * i).repartition(2).count()),
          () => Overlap.all(Seq(
            () => (1 to 3).foreach(i => spark.range(50L * i).repartition(2).count())))))
      }
      assert(underA.size >= 6, s"expected the chains' jobs, saw $underA")
      assert(underA.forall(_._1 == "A"), s"every pooled job must carry group A: $underA")
      assert(underA.forall(_._2.contains("cycle-a")), s"every pooled job must carry the tag: $underA")
      sc.clearJobGroup(); sc.removeJobTag("cycle-a")
      val afterwards = jobsOf(Overlap.all(Seq(() => spark.range(10).count())))
      assert(afterwards.nonEmpty && afterwards.forall(_._1 == "null"),
        s"a caller without a group must not inherit a stale one: $afterwards")
      assert(afterwards.forall(!_._2.contains("cycle-a")), s"stale tag leaked: $afterwards")
    } finally { sc.clearJobGroup(); sc.removeJobTag("cycle-a") }
  }

  test("all waits for every step, then raises the first failure with the others suppressed") {
    val finished = new AtomicInteger(0)
    val first = new RuntimeException("first")
    val second = new IllegalStateException("second")
    val err = intercept[RuntimeException](Overlap.all(Seq(
      () => { Thread.sleep(300); finished.incrementAndGet() },
      () => throw first,
      () => { Thread.sleep(600); finished.incrementAndGet() },
      () => throw second)))
    assert(err eq first)
    assert(err.getSuppressed.toSeq == Seq(second))
    assert(finished.get == 2, "both slow steps must have ended before the raise")
    assert(Overlap.all(Seq(() => "a", () => "b", () => "c")) == Seq("a", "b", "c"))
    assert(Overlap.all(Seq.empty[() => Int]).isEmpty)
  }

  test("both returns typed results, raises only after the other side ended, and nests") {
    val (n, s) = Overlap.both(1 + 1, "x" * 2)
    assert(n + 1 == 3 && s.length == 2)

    val finished = new AtomicInteger(0)
    val dies = new RuntimeException("first side")
    val err = intercept[RuntimeException](
      Overlap.both[Int, Int](throw dies, { Thread.sleep(500); finished.incrementAndGet() }))
    assert(err eq dies)
    assert(finished.get == 1, "the slow second side must have ended before the raise")

    val first = new RuntimeException("first")
    val second = new IllegalStateException("second")
    val both = intercept[RuntimeException](Overlap.both[Int, Int](throw first, throw second))
    assert(both eq first)
    assert(both.getSuppressed.toSeq == Seq(second))

    // four leaves that can only finish once all four run at once: a pool
    // that starved a nested step would time the latch out
    val running = new CountDownLatch(4)
    def leaf(i: Int): Int = {
      running.countDown()
      assert(running.await(30, TimeUnit.SECONDS), "nested steps must all run at once")
      i
    }
    assert(Overlap.both(leaf(1), Overlap.both(leaf(2), Overlap.both(leaf(3), leaf(4)))) ==
      ((1, (2, (3, 4)))))
  }
}
