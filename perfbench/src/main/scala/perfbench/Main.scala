package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Times the benchmark's calls into the engine. Untraced (no tracer, or
  * the tracer off outside timed units) a span only runs its body; traced,
  * it names the fallback entry for the body's jobs and records the body's
  * wall time and the executor run time of all work it caused.
  */
final class Spans(val tracer: Option[Tracer]) {
  private val wall = mutable.HashMap[String, Double]()
  private val execRun = mutable.HashMap[String, Double]()

  def apply[T](entry: String)(body: => T): T = tracer.filter(_.active) match {
    case None => body
    case Some(t) =>
      val before = t.snapshot()
      t.span = entry
      val t0 = System.nanoTime()
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        val after = t.snapshot()
        t.span = Trace.Unattributed
        wall(entry) = wall.getOrElse(entry, 0.0) + ms
        execRun(entry) = execRun.getOrElse(entry, 0.0) + (after - before).all.runMs
      }
  }

  /** (wall ms, executor run ms) per span since the last call. */
  def take(): (Map[String, Double], Map[String, Double]) = {
    val r = (wall.toMap, execRun.toMap)
    wall.clear(); execRun.clear()
    r
  }
}

/** One unit as measured: its kind, wall time, and (traced) the work it
  * caused per entry, its spans, and its ratios.
  */
final case class UnitRecord(kind: String, ms: Double, traced: Boolean,
                            work: Tracer.Snapshot, spanWall: Map[String, Double],
                            spanRun: Map[String, Double], ratios: Map[String, Double])

/** Runs units one at a time (a closed loop with one client) and counts
  * failures against attempts. A unit whose body or output check throws is
  * failed and leaves no sample.
  */
final class Runner(w: Workload, spans: Spans, log: String => Unit) {
  var attempted = 0
  var failed = 0
  val records = mutable.ArrayBuffer[UnitRecord]()

  def unit(i: Int, timed: Boolean, traced: Boolean): Unit = {
    attempted += 1
    try {
      w.prepare(i)
      spans.tracer.foreach(_.active = traced)
      val before = spans.tracer.filter(_ => traced).map(_.snapshot())
      spans.take()
      val t0 = System.nanoTime()
      val kind = w.run(i)
      val ms = (System.nanoTime() - t0) / 1e6
      log(f"unit $i $kind $ms%.0f ms")
      val work = before.map(b => spans.tracer.get.snapshot() - b).getOrElse(Tracer.Empty)
      val (sw, sr) = spans.take()
      spans.tracer.foreach(_.active = false)
      w.check(i)
      val amp =
        if (traced && w.inputBytes(i) > 0)
          Map("monthly_drop.write_amp" -> work.all.outputB.toDouble / w.inputBytes(i))
        else Map.empty[String, Double]
      if (timed) records += UnitRecord(kind, ms, traced, work, sw, sr,
        w.ratios.getOrElse(i, Map.empty) ++ amp)
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"unit $i failed: $e")
    } finally spans.tracer.foreach(_.active = false)
  }
}

object Stats {
  /** The q-quantile by linear interpolation; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {
  val Workloads: Seq[String] = Seq("monthly_drop", "lake_serve", "corpus_curate")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"),
      need("data"), m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, spark: SparkSession, spans: Spans, seed: Long, corpus: Gen.Corpus,
           work: String, scale: Scale): Workload = name match {
    case "monthly_drop" => new MonthlyDrop(spark, spans, seed, corpus, work, scale)
    case "lake_serve" => new LakeServe(spark, spans, seed, corpus, work, scale)
    case "corpus_curate" => new CorpusCurate(spark, spans, seed, corpus, work, scale)
  }

  /** Everything one run measured. */
  final case class Result(setupS: Double, storedBytes: Long, runner: Runner, digest: String,
                          outputs: String, cpus: Int, finishOk: Boolean)

  /** Set-up and warm-up, then timed units until `seconds` have passed,
    * then the end-of-run checks.
    */
  def measure(a: Args, scale: Scale, jvmStartMs: Long, log: String => Unit): Result = {
    val spark = session(a.cpus, a.work)
    val tracer = if (a.trace) Some(Tracer.install(spark.sparkContext)) else None
    tracer.foreach(_.active = false)
    val spans = new Spans(tracer)
    val corpus = Gen.Corpus.load(a.data + "/documents.tsv.gz")
    val w = make(a.workload, spark, spans, a.seed, corpus, a.work, scale)
    val runner = new Runner(w, spans, log)
    w.setup()
    log(f"setup done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    (0 until w.warmups).foreach(i => runner.unit(i, timed = false, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val digest = w.digest.clone().asInstanceOf[java.security.MessageDigest].digest()
      .map(b => f"$b%02x").mkString.take(16)
    val t0 = System.nanoTime()
    var i = w.warmups
    var stored = 0L
    while (i == w.warmups || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      runner.unit(i, timed = true, traced = a.trace)
      // after the first timed unit: the same unit at one seed, whatever
      // the run length, and one that wrote
      if (i == w.warmups) stored = w.storedBytes()
      i += 1
    }
    val finishOk =
      try { w.finish(); true }
      catch { case NonFatal(e) => log(s"end-of-run check failed: $e"); false }
    Result(setupS, stored, runner, digest, w.outputDigest, a.cpus, finishOk)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val r = measure(a, Scale.Full, jvmStart, s => System.err.println(s"[perfbench] $s"))
    println(Report.detail(a, r))
    println(Report.result(a, r))
    System.out.flush()
    SparkSession.active.stop()
    if (r.runner.failed > 0 || !r.finishOk) sys.exit(1)
  }
}
