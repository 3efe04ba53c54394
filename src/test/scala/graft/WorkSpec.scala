package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Overlap, Work}

/** `Work.measure` charges a scope exactly the jobs its body started, on
  * whichever thread they ran. RDD jobs are used where exact counts are
  * asserted: one job, one stage, one task per partition.
  */
class WorkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `body`'s result and (job group, job tags) of every job it started. */
  private def jobsOf[T](body: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        seen.add((String.valueOf(job.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(job.properties.getProperty("spark.job.tags"))))
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try { val out = body; GraftBus.drain(sc); (out, seen.asScala.toSeq) }
    finally sc.removeSparkListener(listener)
  }

  test("back-to-back scopes each get exactly their own jobs, also when events are still queued") {
    val sc = spark.sparkContext
    // a listener that is slow on every task end holds the shared bus
    // queue behind the jobs, so the first scope's stage completions are
    // still undelivered when its body returns
    val delivered = new AtomicInteger(0)
    val slow = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        Thread.sleep(100); delivered.incrementAndGet()
      }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(slow)
    try {
      val (queued, first) = Work.measure(sc, "first") {
        sc.parallelize(1 to 100, 2).count()
        sc.parallelize(1 to 100, 3).map(_ + 1).count()
        delivered.get < 5
      }
      val (_, second) = Work.measure(sc, "second")(sc.parallelize(1 to 10, 4).count())
      assert(queued, "the first scope's task events must still be queued when its body returns")
      assert(first.jobs == 2 && first.tasks == 5, first)
      assert(second.jobs == 1 && second.tasks == 4, second)
    } finally sc.removeSparkListener(slow)
  }

  test("jobs of concurrent Overlap chains and a broadcast join are charged to the enclosing scope") {
    val sc = spark.sparkContext
    val ((_, work), jobs) = jobsOf(Work.measure(sc, "chains") {
      Overlap.all(Seq(
        () => (1 to 3).foreach(_ => sc.parallelize(1 to 100, 2).count()),
        () => (1 to 2).foreach(_ => sc.parallelize(1 to 100, 3).count())))
      spark.range(1000).join(broadcast(spark.range(10)), "id").count()
    })
    assert(work.jobs >= 7, s"5 chain jobs, the broadcast and the join: $work")
    assert(work.jobs == jobs.size, s"every job started in the scope is charged to it: $jobs")
    assert(jobs.forall(_._2.contains("chains")), s"every job must carry the scope's tag: $jobs")
    assert(work.tasks >= 12, work)
  }

  test("a streaming query's jobs are charged to the scope that started it") {
    val sc = spark.sparkContext
    val ((_, work), jobs) = jobsOf(Work.measure(sc, "q_stream_windowed") {
      SparkEntry.queries("q_stream_windowed")(spark, "/root/testdata/sf0.001")
    })
    assert(work.jobs >= 1, work)
    assert(work.jobs == jobs.size, s"every job of the stream is charged to the scope: $jobs")
    // the stream's thread sets its own job group, and keeps the tag it
    // inherited from the thread that started it
    assert(jobs.exists { case (group, tags) => group != "null" && tags.contains("q_stream_windowed") },
      s"no stream job carried the scope's tag: $jobs")
  }

  test("a job outside every scope is charged to none") {
    val sc = spark.sparkContext
    // created before the scope opens, so the thread carries no scope tag
    val untagged = new Thread(() => { sc.parallelize(1 to 10, 7).count(); () })
    sc.parallelize(1 to 10, 6).count()
    val (_, work) = Work.measure(sc, "inner") {
      untagged.start(); untagged.join()
      sc.parallelize(1 to 10, 2).count()
    }
    val (_, after) = Work.measure(sc, "after")(())
    assert(work.jobs == 1 && work.tasks == 2, work)
    assert(after == Work.Counters(), after)
  }
}
