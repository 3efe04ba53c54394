package perfbench

import Stats.{median, quantile}

/** Turns a run's unit records into the two printed lines: a detail line
  * with the workload's own metrics and sample counts, and the result line
  * the benchmark contract asks for.
  */
object Report {

  /** Entries whose Spark work is reported, with the counters kept for
    * each: the write and serve paths keep every byte counter; the ops
    * kernels keep what moves with compute.
    */
  val WriteCounters: Seq[String] =
    Seq("jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "input_mb", "output_mb", "shuffle_write_mb")
  val KernelCounters: Seq[String] =
    Seq("jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "output_mb", "shuffle_write_mb")
  val Entries: Seq[(String, Seq[String])] =
    Seq("pipeline.IngestJob", "enrich.Companies", "pipeline.DropCycle",
      "lake.SnapshotLake", "lake.BloomIndex", "lake.Staged", "lake.LakeTable",
      "lake.MaterializedAgg", "ops.DedupIndex", "ops.PostingsIndex", "ops.Sketches",
      "ops.Relevance").map(_ -> WriteCounters) ++
      Seq("versions.Versions" -> Seq("jobs", "exec_run_ms", "exec_cpu_ms", "shuffle_write_mb")) ++
      Seq("ops.Dedup", "ops.TextAnalysis", "ops.FuzzyJoin").map(_ -> KernelCounters)

  /** Spans the benchmark opens around its calls. */
  val Spanned: Seq[String] = Seq("pipeline.IngestJob", "enrich.Companies", "pipeline.DropCycle",
    "ops.Dedup", "ops.TextAnalysis", "ops.FuzzyJoin")

  val Ratios: Seq[String] = Seq("pipeline.DropCycle.refresh_frac", "monthly_drop.write_amp")

  /** Metrics only `lake_serve` produces: its spans around the reads and
    * the lookups' file ratio. A traced `lake_serve` run prints them on
    * its detail line; they are not in the result line, whose per-layer
    * list holds what the workloads in `BENCHMARK.json` produce.
    */
  val ServeSpanned: Seq[String] =
    Seq("lake.BloomIndex", "lake.LakeTable", "lake.MaterializedAgg", "ops.PostingsIndex")
  val FilesPerLookup = "lake.BloomIndex.files_per_lookup"
  val ServeOnly: Seq[(String, String)] =
    ServeSpanned.map(e => s"$e.wall_ms" -> "ms") :+ (FilesPerLookup -> "ratio")

  /** Per-layer metrics, reported by every traced run: (name, unit). */
  val PerLayer: Seq[(String, String)] = {
    def unitOf(counter: String) = counter match {
      case "jobs" | "tasks" => "count"
      case c if c.endsWith("_ms") => "ms"
      case _ => "MB"
    }
    Entries.flatMap { case (e, cs) => cs.map(c => s"$e.$c" -> unitOf(c)) } ++
      Seq("all.jobs" -> "count", "all.exec_run_ms" -> "ms", "all.spill_mb" -> "MB") ++
      Spanned.map(e => s"$e.wall_ms" -> "ms") ++
      Seq("pipeline.DropCycle.driver_ms" -> "ms") ++
      Ratios.map(_ -> "ratio") ++
      Seq("trace.named_frac" -> "ratio", "trace.callsite_frac" -> "ratio")
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\": " + v }.mkString("{", ", ", "}")

  private def metric(value: Double, unit: String, n: Option[Int] = None): String =
    obj(Seq("value" -> num(value), "unit" -> ("\"" + unit + "\"")) ++
      n.map(k => "n" -> k.toString))

  private def ms(rs: Seq[UnitRecord]): Seq[Double] = rs.map(_.ms)

  /** The workload's own end-to-end metrics: (name, value, unit, samples). */
  def workloadMetrics(a: Main.Args, r: Main.Result): Seq[(String, Double, String, Int)] = {
    val rs = r.runner.records.toSeq
    a.workload match {
      case "monthly_drop" => Seq(("drop_s", median(ms(rs)) / 1e3, "s", rs.size),
        ("stored_mb", r.storedBytes / 1e6, "MB", 1))
      case "lake_serve" =>
        Seq("lookup", "travel", "tender", "summary", "bm25").map { k =>
          val xs = ms(rs.filter(_.kind == k))
          (s"${k}_p50_ms", median(xs), "ms", xs.size)
        } :+ (("serve_p90_ms", quantile(ms(rs), 0.9), "ms", rs.size))
      case "corpus_curate" => Seq(("batch_s", median(ms(rs)) / 1e3, "s", rs.size))
    }
  }

  def detail(a: Main.Args, r: Main.Result): String = {
    val serve =
      if (a.trace && a.workload == "lake_serve") {
        val v = perLayer(r)
        ServeOnly.map { case (k, u) => k -> metric(v(k), u) }
      } else Nil
    val own = workloadMetrics(a, r).map { case (k, v, u, n) => k -> metric(v, u, Some(n)) } ++
      Seq("setup_s" -> metric(r.setupS, "s", Some(1))) ++ serve
    obj(Seq("detail" -> obj(Seq(
      "workload" -> ("\"" + a.workload + "\""), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cpus" -> r.cpus.toString,
      "input_digest" -> ("\"" + r.digest + "\""),
      "output_digest" -> ("\"" + r.outputs + "\""),
      "units" -> r.runner.records.size.toString,
      "metrics" -> obj(own)))))
  }

  /** Per-layer values from the first traced unit of each kind: the same
    * units at one seed whatever the run length, so counters that depend
    * only on the plan and the data repeat exactly.
    */
  def perLayer(r: Main.Result): Map[String, Double] = {
    val all = r.runner.records.toSeq
    val traced = all.filter(_.traced).groupBy(_.kind).values.map(_.head).toSeq
    def ran(u: UnitRecord, e: String) =
      u.work.totals.get(e).exists(_.jobs > 0) || u.spanWall.contains(e)
    val counters = for {
      (e, cs) <- Entries
      c <- cs
    } yield s"$e.$c" -> median(traced.filter(ran(_, e)).map(u =>
      u.work.totals.getOrElse(e, Counters()).fields.toMap.apply(c)))
    val totals = traced.map(_.work.all)
    val overall = Seq(
      "all.jobs" -> median(totals.map(_.jobs.toDouble)),
      "all.exec_run_ms" -> median(totals.map(_.runMs.toDouble)),
      "all.spill_mb" -> median(totals.map(_.spillB / 1e6)))
    val walls = (Spanned ++ ServeSpanned)
      .map(e => s"$e.wall_ms" -> median(traced.flatMap(_.spanWall.get(e))))
    val driver = "pipeline.DropCycle.driver_ms" -> median(traced.flatMap(u =>
      u.spanWall.get("pipeline.DropCycle").map(_ - u.spanRun("pipeline.DropCycle") / r.cpus)))
    val ratios = (Ratios :+ FilesPerLookup).map(k => k -> median(traced.flatMap(_.ratios.get(k))))
    val run = totals.map(_.runMs).sum.toDouble
    val named = run - traced.map(_.work.totals.get(Trace.Unattributed).map(_.runMs).getOrElse(0L)).sum
    val viaSite = traced.map(_.work.callSiteRunMs.values.sum).sum.toDouble
    (counters ++ overall ++ walls ++ Seq(driver) ++ ratios ++ Seq(
      "trace.named_frac" -> (if (run > 0) named / run else Double.NaN),
      "trace.callsite_frac" -> (if (run > 0) viaSite / run else Double.NaN))).toMap
  }

  def result(a: Main.Args, r: Main.Result): String = {
    val metrics =
      if (a.trace) {
        val v = perLayer(r)
        PerLayer.map { case (k, u) => k -> metric(v(k), u) }
      } else {
        val rs = r.runner.records.toSeq
        Seq("setup_s" -> metric(r.setupS, "s"),
          "unit_p50_ms" -> metric(median(ms(rs)), "ms"),
          "stored_mb" -> metric(r.storedBytes / 1e6, "MB"))
      }
    val correct = r.runner.failed == 0 && r.finishOk && r.runner.records.nonEmpty
    obj(Seq("correct" -> correct.toString, "attempted" -> r.runner.attempted.toString,
      "failed" -> r.runner.failed.toString, "metrics" -> obj(metrics)))
  }
}
