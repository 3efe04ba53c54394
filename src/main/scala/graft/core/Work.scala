package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The engine's one Spark listener: the work (jobs, tasks, executor time,
  * scan, shuffle and spill bytes) charged to a named scope.
  *
  * [[measure]] adds a job tag for its scope. A job carries the tags of the
  * thread that submits it, and the threads that submit work for a caller
  * carry the caller's tags too: [[Overlap.all]] copies them onto pooled
  * threads, SQL copies them onto its broadcast threads, and a streaming
  * query's thread inherits them when `start()` creates it. (A job GROUP
  * would not do: a stream sets its own group on that thread.) The
  * listener maps each tagged job's stages to its open scopes when the job
  * starts and adds each completed stage's task metrics to them. A job
  * carrying no open scope's tag is charged to no scope.
  */
object Work {

  /** Spark work summed over a scope's jobs and their completed stages. */
  final case class Counters(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                            inputB: Long = 0, outputB: Long = 0, shuffleWriteB: Long = 0,
                            shuffleReadB: Long = 0, memSpillB: Long = 0, diskSpillB: Long = 0) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks, runMs + o.runMs,
      cpuNs + o.cpuNs, inputB + o.inputB, outputB + o.outputB, shuffleWriteB + o.shuffleWriteB,
      shuffleReadB + o.shuffleReadB, memSpillB + o.memSpillB, diskSpillB + o.diskSpillB)

    /** The counters as reported, by name; spill is the bytes spilled to disk. */
    def fields: Seq[(String, Double)] = Seq(
      "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
      "exec_run_ms" -> runMs.toDouble, "exec_cpu_ms" -> cpuNs / 1e6,
      "input_mb" -> inputB / 1e6, "output_mb" -> outputB / 1e6,
      "shuffle_write_mb" -> shuffleWriteB / 1e6, "shuffle_read_mb" -> shuffleReadB / 1e6,
      "spill_mb" -> diskSpillB / 1e6)
  }

  private final class Listener extends SparkListener {
    /** Running totals of the open scopes, by tag. */
    val open = new ConcurrentHashMap[String, Counters]()
    /** The open scopes' tags each stage of their jobs is charged to. */
    private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()

    private def charge(tags: Seq[String], c: Counters): Unit =
      tags.foreach(open.computeIfPresent(_, (_, total) => total + c))

    override def onJobStart(job: SparkListenerJobStart): Unit = {
      val tags = Option(job.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(open.containsKey)
      if (tags.nonEmpty) {
        job.stageIds.foreach(stageTags.putIfAbsent(_, tags))
        charge(tags, Counters(jobs = 1))
      }
    }

    override def onStageCompleted(done: SparkListenerStageCompleted): Unit =
      Option(stageTags.get(done.stageInfo.stageId)).foreach { tags =>
        val m = done.stageInfo.taskMetrics
        charge(tags,
          if (m == null) Counters(tasks = done.stageInfo.numTasks)
          else Counters(tasks = done.stageInfo.numTasks, runMs = m.executorRunTime,
            cpuNs = m.executorCpuTime, inputB = m.inputMetrics.bytesRead,
            outputB = m.outputMetrics.bytesWritten,
            shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
            shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
            memSpillB = m.memoryBytesSpilled, diskSpillB = m.diskBytesSpilled))
      }

    /** Drop a scope, and its stages unless another open scope shares them. */
    def close(tag: String): Unit = {
      open.remove(tag)
      stageTags.values.removeIf(_.forall(t => !open.containsKey(t)))
    }
  }

  /** Each context's listener, added to it on first use. */
  private val listeners =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkContext, Listener]())

  private val scopes = new AtomicLong(0L)

  /** Run `body` under a job tag for `name` and return its result with the
    * work its jobs did. The work is read after the listener bus has
    * delivered every event posted so far, so a stage that completed
    * just before `body` returned is not lost (nor charged to whatever
    * runs next). When `body` throws, so does this, and its work is
    * dropped.
    */
  def measure[T](sc: SparkContext, name: String)(body: => T): (T, Counters) = {
    val listener = listeners.computeIfAbsent(sc, { sc =>
      val l = new Listener; sc.addSparkListener(l); l })
    val tag = s"graft-work-${scopes.incrementAndGet()}-${name.replace(',', '_')}"
    listener.open.put(tag, Counters())
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      GraftBus.drain(sc)
      (out, listener.open.get(tag))
    } finally listener.close(tag)
  }
}
