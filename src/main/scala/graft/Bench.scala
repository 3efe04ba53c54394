package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Work

/** Benchmark main: times every SparkEntry query at the scale factor in
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * A warmup pass (table scans + one instance of each kernel family on
  * tiny slices) runs before timing so no measured query absorbs JVM/codegen
  * warmup or file-footer reads. AQE is on; shuffle partitions match the
  * local core count rather than the 200 default. Each query's Spark work
  * ([[graft.core.Work]]) is reported beside its time under `"work"`.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table's footer + exercise codegen/shuffle paths
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q_customer_segments_active")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Kernel-family warmup on tiny slices: the FIRST evaluation of each
    // plan shape pays whole-stage-codegen compilation + C2 JIT, which is
    // per-shape, not per-row (measured: the minhash candidate pipeline's
    // first run costs ~9 s at sf0.1, its second 1.8 s — the delta is all
    // compile). The bench exists to measure plans at steady state, so
    // compile every family up front on 64-row slices where the compile
    // cost is the only cost. Each block is independent and best-effort.
    def warm(body: => Any): Unit = try { body; () } catch { case _: Throwable => () }
    warm {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .persist(); docs.count()
      // minhash shingle/band/self-join + components + text kernels
      val pairs = graft.ops.Dedup.minhashCandidates(docs, "doc_id", "text", 4, 2)
      graft.ops.Dedup.connectedComponents(pairs).count()
      graft.ops.Dedup.simhashCandidates(docs, "doc_id", "text", 4, 3).count()
      docs.select(graft.ops.TextAnalysis.langId(col("text")),
        graft.ops.TextAnalysis.qualityScore(col("text")),
        graft.ops.TextAnalysis.tokenCount(col("text"))).count()
      // round-11 kernel families: bm25 pivot-sum, chunk slicing,
      // contamination report join, bin-explode range join
      graft.ops.Relevance.bm25(docs, "doc_id", "text", Seq("spark", "data")).count()
      docs.select(explode(graft.ops.TextAnalysis.chunkTokens(col("text"), 64, 48))).count()
      graft.ops.Dedup.contaminationReport(docs, docs.limit(8), "doc_id", "text").count()
      graft.ops.TimeJoins.pointInIntervalJoin(
        docs.select(col("doc_id"), col("n_chars").as("p")),
        "p", docs.select(col("doc_id").as("iid"), col("n_chars").as("lo"),
          (col("n_chars") + 64).as("hi")).limit(8), "lo", "hi", 64L).count()
      docs.unpersist(blocking = false)
    }
    warm {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        .persist(); emb.count()
      val probe = emb.limit(4)
      // decimal-dot deciders, DotFloat coarse gates, hyperplane buckets,
      // IVF cell assignment, rank windows
      graft.ops.Similarity.bruteTopKExact(emb, probe, "vec_id", "embedding", 2).count()
      graft.ops.Similarity.dotNearDupExact(emb, "vec_id", "embedding",
        BigDecimal("0.35"), 4, 64).count()
      graft.ops.Similarity.multiProbeTopKExact(emb, probe, "vec_id", "embedding", 2, 4, 64).count()
      graft.ops.Similarity.ivfTopK(emb, probe, "vec_id", "embedding", 2, 4, 2).count()
      graft.ops.Similarity.ivfTopKInt8(emb, probe, "vec_id", "embedding", 2, 4, 2).count()
      // distributed Lloyd trainer: compile the assignment cross-join +
      // decimal-mean shapes (round-13: the trainer is per-iteration
      // Spark jobs now, not a driver loop)
      graft.ops.Similarity.ivfCentroidsKMeans(emb, "vec_id", "embedding", nList = 2, iters = 1)
      emb.unpersist(blocking = false)
    }
    warm {
      // scratch-lake family warmup: the staged-swap landing (overwrite →
      // rename-commit), the partition-scoped upsert and the repair join
      // chain — so the first measured scratch-lake query (ntp_repair_report
      // and the snapshot/bloom tier) pays plan+commit-path compile, not
      // the measured pass (round-11 watch item: 1.9x pass-to-pass swing)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench_lakewarm").toString
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .select(format_string("ntp%08d", col("doc_id")).as("_id"),
          concat(lit("k"), (col("doc_id") % 8).cast("string")).as("nk"),
          lit(false).as("obsolete_version"), lit(null).cast("string").as("updated_to"))
        .withColumn("grp", lit(0)).withColumn("bucket", pmod(hash(col("nk")), lit(2)))
      val lake = new graft.lake.LakeTable(spark, tmp + "/lake", "_id",
        graft.pipeline.IngestJob.LakePartitionCols, nBuckets = 2)
      lake.overwrite(docs)
      graft.pipeline.RepairJob.run(spark, lake, "nk").count()
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    warm {
      // round-12 kernel families: profiler Expand/stack, materialized-agg
      // partial/serve, sketch segments (HLL agg + merge), knn-graph tail
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench_aggwarm").toString
      val ords = spark.read.parquet(s"$sfDir/orders.parquet").limit(64)
        .persist(); ords.count()
      graft.ops.Profiler.profile(ords, Seq("o_orderkey", "o_orderstatus")).count()
      val spec = graft.lake.MaterializedAgg.Spec(Seq("o_orderstatus"),
        sums = Seq("s" -> col("o_orderkey")), mins = Seq("mn" -> col("o_orderkey")),
        maxs = Seq("mx" -> col("o_orderkey")))
      graft.lake.MaterializedAgg.landDrop(ords, spec, s"$tmp/m", "w")
      graft.lake.MaterializedAgg.serve(spark, s"$tmp/m", spec).count()
      graft.ops.Sketches.landHllDrop(ords, Seq("o_orderstatus"), "o_custkey", s"$tmp/h", "w")
      graft.ops.Sketches.serveHllEstimate(spark, s"$tmp/h", Seq("o_orderstatus")).count()
      graft.ops.Sketches.landDistinctDrop(ords, Seq("o_orderstatus"), "o_custkey", s"$tmp/d", "w")
      graft.ops.Sketches.serveDistinct(spark, s"$tmp/d", Seq("o_orderstatus"), "o_custkey").count()
      ords.unpersist(blocking = false)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
      graft.ops.Similarity.knnGraphBucketed(emb, "vec_id", "embedding", 2, 4, 64).count()
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    warm {
      // round-12 session kernel families: deflate ratio, bigram-LM join
      // chain, top-k segments, png encode + perceptual hash — each on
      // 64-row slices so the measured queries see steady-state codegen
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench_r12warm").toString
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .persist(); docs.count()
      docs.select(graft.ops.TextAnalysis.compressRatioPct(col("text"))).count()
      graft.ops.Relevance.bigramLmScore(docs, "doc_id", "text").count()
      graft.ops.Sketches.landTopKDrop(docs, Nil, "lang", 4, s"$tmp/tk", "w")
      graft.ops.Sketches.serveTopK(spark, s"$tmp/tk", Nil, "lang").count()
      val dims = docs.select(col("doc_id"), lit(8).cast("int").as("w"),
        lit(8).cast("int").as("h"), (col("doc_id") % 4).as("pat")).limit(8)
      graft.ops.Multimodal.imageHashes(
        graft.ops.Multimodal.grayPngTable(dims, "doc_id", "w", "h", "pat")).count()
      docs.unpersist(blocking = false)
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    warm {
      // streaming engine warmup: micro-batch planner, state-store setup,
      // and the stateful codegen paths. Same entry code as the measured
      // q_stream_* queries, against a 64-row copy of the events file laid
      // out the way the entries expect (a single file named
      // events.parquet under the dir).
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench_warm").toString
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("events", "documents", "customer").foreach { t =>
        val stage = s"$tmp/_stage_$t"
        spark.read.parquet(s"$sfDir/$t.parquet").limit(64).coalesce(1).write.parquet(stage)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$tmp/$t.parquet"))
      }
      // ALL six streaming shapes: the stateful symmetric-hash join,
      // static-enrich join, and top-k sink paths each carry their own
      // codegen + state-store formats, and an unwarmed shape showed up
      // as a 1.7-1.8x run-1/run-2 swing on exactly those rows
      Seq("q_stream_windowed", "q_stream_sessionize", "q_stream_dedup_docs",
        "q_stream_stream_join", "q_stream_enrich_join", "q_stream_topk").foreach { qn =>
        warm(SparkEntry.queries(qn)(spark, tmp).count())
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Verify.dropStreamSinks(spark) // warmup's stream sinks must not survive into timing
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()

    val only = sys.env.get("SPARK_GRAFT_ONLY") // debug: regex filter on query names
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.matches) }
    // two full passes, min-of-two per query: back-to-back runs of
    // identical code measure ±20% host-contention variance (bench
    // methodology notes), and the min is the better plan-cost estimator —
    // noise only ever ADDS time. Both raw passes are carried in the JSON
    // so regression analysis can see the spread.
    val timed = timeQueries(spark, sfDir, selected, passes = 2) {
      // Session hygiene between queries — round-2 lesson: leftover cached
      // frames AND checkpoint/persisted RDDs (clearCache misses the
      // latter) compound in the old gen and made later queries run
      // 10-30x their isolated cost. Clear both, then GC, so each query
      // is measured against a clean heap — the bench must measure plans,
      // not accumulated session garbage.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // memory-sink tables from stream queries hold their rows until the
      // temp view drops — without this the second pass (and every later
      // query of THIS pass) runs against a heap carrying every sink so far
      Verify.dropStreamSinks(spark)
      // every streaming query leaves its state-store providers in the
      // executor-side provider cache with a shared maintenance thread
      // sweeping them; across 160+ queries × 2 passes the sweep and the
      // cached stores grow with every stream run and bleed into later
      // queries' wall time (round-13: run-2 streaming rows 2-4× run-1).
      // stop() unloads all providers and parks the maintenance task; the
      // next streaming query restarts both from empty.
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
    }
    val results = timed.best
    def fmt(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = fmt(results)
    val total = results.map(_._2).sum
    // two tiers (round-12 verdict #7): pure plan executions vs
    // scratch-lake machinery journeys, so plan regressions in the
    // sub-second pure tier are visible outside the ±1 s of fs noise the
    // integration journeys carry. Per-tier thresholds live with the
    // consumer; the JSON just separates the subtotals.
    val (integ, pure) = results.partition(r => SparkEntry.integrationQueries(r._1))
    val runsJson = timed.passes.map(fmt).mkString("[", ",", "]")
    val errorsJson = timed.errors.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val workJson = timed.work.map { case (k, c) => "\"" + k + "\":" + fmt(c.fields) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","pure_sec":${pure.map(_._2).sum},"integration_sec":${integ.map(_._2).sum},"pure_n":${pure.size},"integration_n":${integ.size},"errors":$errorsJson,"work":$workJson,"queries":$qs,"runs":$runsJson,"sf":"$sfDir"}"""
    println(line)
    // also land the line in a file: stdout is shared with Spark/Ivy log
    // noise and the driver's scrape has come back "parsed": null before
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (timed.errors.nonEmpty) {
      System.err.println(s"[bench] ${timed.errors.size} queries FAILED: " +
        timed.errors.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }

  /** Per-query timings of `passes` full passes over `queries`: `best`
    * is each query's min over the passes, `passes` the raw passes,
    * `work` each query's Spark work in the last pass, and `errors`
    * (name -> exception class) every query that threw in any pass. A
    * failed query is reported, never timed: its few ms of plan building
    * would read as a spectacular speedup in the totals.
    */
  private[graft] final case class Timed(best: Seq[(String, Double)],
                                        passes: Seq[Seq[(String, Double)]],
                                        work: Seq[(String, Work.Counters)],
                                        errors: Seq[(String, String)])

  /** Time each of `queries` (materialized by `count()`) in order, `passes`
    * times, running `between` after every query. The timed interval ends
    * before [[Work.measure]] waits for the query's last Spark events. A
    * throw is printed to stderr with its query's name and recorded in
    * [[Timed.errors]].
    */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
                                 queries: Seq[(String, (SparkSession, String) => DataFrame)],
                                 passes: Int)(between: => Unit): Timed = {
    val runs = Seq.fill(passes)(queries.map { case (name, fn) =>
      val r: Either[String, (Double, Work.Counters)] =
        try Right(Work.measure(spark.sparkContext, name) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        })
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          Left(e.getClass.getName)
        }
      between
      name -> r
    })
    val errors = queries.map(_._1).flatMap { name =>
      runs.flatMap(_.collectFirst { case (`name`, Left(e)) => name -> e }).headOption
    }
    val failed = errors.map(_._1).toSet
    val ok = runs.map(_.collect { case (name, Right(tw)) if !failed(name) => name -> tw })
    val passTimes = ok.map(_.map { case (name, (t, _)) => name -> t })
    Timed(passTimes.head.map { case (name, _) => name -> passTimes.map(_.toMap.apply(name)).min },
      passTimes, ok.last.map { case (name, (_, w)) => name -> w }, errors)
  }
}
