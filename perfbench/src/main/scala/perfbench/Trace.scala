package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work summed over the stages charged to one entry. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                          inputB: Long = 0, outputB: Long = 0, shuffleWriteB: Long = 0,
                          spillB: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks, runMs + o.runMs,
    cpuNs + o.cpuNs, inputB + o.inputB, outputB + o.outputB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, inputB - o.inputB, outputB - o.outputB,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB)

  /** The counters as reported, by their metric suffix. */
  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "exec_run_ms" -> runMs.toDouble, "exec_cpu_ms" -> cpuNs / 1e6,
    "input_mb" -> inputB / 1e6, "output_mb" -> outputB / 1e6,
    "shuffle_write_mb" -> shuffleWriteB / 1e6, "spill_mb" -> spillB / 1e6)
}

object Trace {
  /** Work that reached neither a graft call site nor a benchmark span. */
  val Unattributed = "?"

  /** `module.Class` of one call-site line, or None for a non-graft frame.
    * A line reads `graft.lake.Staged$.$anonfun$landMany$2(Staged.scala:80)`,
    * optionally prefixed by `at `.
    */
  def frameEntry(line: String): Option[String] = {
    val l = line.trim.stripPrefix("at ").trim
    if (!l.startsWith("graft.")) None
    else {
      val qualified = l.takeWhile(_ != '(')
      val cls = qualified.substring(0, math.max(0, qualified.lastIndexOf('.')))
      val name = cls.takeWhile(_ != '$').stripPrefix("graft.")
      if (name.isEmpty) None else Some(name)
    }
  }

  /** The entry a call-site stack (innermost frame first) is charged to:
    * the outermost graft frame below `graft.pipeline`, skipping
    * `graft.core`; the outermost pipeline frame when the pipeline step
    * ran the job itself; None when no graft frame is on the stack.
    */
  def entryOf(stack: Seq[String]): Option[String] = {
    val outermostFirst = stack.reverse.flatMap(frameEntry).filterNot(_.startsWith("core."))
    outermostFirst.find(e => !e.startsWith("pipeline."))
      .orElse(outermostFirst.headOption)
  }
}

/** The benchmark's one listener. Each SQL execution's call-site stack is
  * recorded when it starts; each job is mapped to its execution through
  * the job's execution-id property (AQE submits stages from its own
  * threads, so a stage's own call site often names no caller), or else to
  * its first stage's call site, or else to the benchmark span that was
  * open when the job started. Completed stages then add their task
  * metrics to the job's entry.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  /** The benchmark span currently open, the fallback entry. */
  @volatile var span: String = Trace.Unattributed
  /** Off outside timed units: every event is ignored. */
  @volatile var active: Boolean = true

  private val execEntry = new ConcurrentHashMap[Long, (String, Boolean)]()
  private val stageEntry = new ConcurrentHashMap[Int, String]()
  private val totals = mutable.HashMap[String, Counters]()
  private val viaCallSite = mutable.HashMap[String, Long]()

  private def stackOf(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split("\n"))

  /** (entry, found on a call site) for a stack, falling back to the span. */
  private def resolve(stack: Seq[String]): (String, Boolean) =
    Trace.entryOf(stack).map(_ -> true).getOrElse(span -> false)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if active =>
      execEntry.put(e.executionId, resolve(stackOf(e.details)))
    case _ =>
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = if (active) {
    def prop(k: String) = Option(job.properties).flatMap(p => Option(p.getProperty(k)))
    val viaSql = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .flatMap(id => Option(execEntry.get(id.toLong)))
    val (entry, fromSite) = viaSql.getOrElse(
      resolve(job.stageInfos.sortBy(_.stageId).headOption.toSeq.flatMap(s => stackOf(s.details))))
    job.stageIds.foreach(id => stageEntry.putIfAbsent(id, if (fromSite) entry else "~" + entry))
    add(entry, Counters(jobs = 1), fromSite)
  }

  override def onStageCompleted(done: SparkListenerStageCompleted): Unit = if (active) {
    val info = done.stageInfo
    val tagged = Option(stageEntry.get(info.stageId)).getOrElse("~" + Trace.Unattributed)
    val (entry, fromSite) =
      if (tagged.startsWith("~")) (tagged.drop(1), false) else (tagged, true)
    val m = info.taskMetrics
    val c =
      if (m == null) Counters(tasks = info.numTasks)
      else Counters(tasks = info.numTasks, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        inputB = m.inputMetrics.bytesRead, outputB = m.outputMetrics.bytesWritten,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten, spillB = m.diskBytesSpilled)
    add(entry, c, fromSite)
  }

  private def add(entry: String, c: Counters, fromSite: Boolean): Unit = synchronized {
    totals(entry) = totals.getOrElse(entry, Counters()) + c
    if (fromSite) viaCallSite(entry) = viaCallSite.getOrElse(entry, 0L) + c.runMs
  }

  /** Delivers every event posted so far, then copies the running totals. */
  def snapshot(): Tracer.Snapshot = {
    PerfbenchBus.drain(sc)
    synchronized(Tracer.Snapshot(totals.toMap, viaCallSite.toMap))
  }
}

object Tracer {
  /** Running totals per entry, plus the executor run time of each entry
    * that was charged through a call site rather than a span.
    */
  final case class Snapshot(totals: Map[String, Counters], callSiteRunMs: Map[String, Long]) {
    def -(o: Snapshot): Snapshot = Snapshot(
      totals.map { case (k, c) => k -> (c - o.totals.getOrElse(k, Counters())) },
      callSiteRunMs.map { case (k, v) => k -> (v - o.callSiteRunMs.getOrElse(k, 0L)) })
    def all: Counters = totals.values.foldLeft(Counters())(_ + _)
  }
  val Empty: Snapshot = Snapshot(Map.empty, Map.empty)

  def install(sc: SparkContext): Tracer = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    t
  }
}
