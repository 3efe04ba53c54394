package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: times every SparkEntry query at the scale factor in
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * A warmup pass (table scans + one instance of each kernel family on
  * tiny slices) runs before timing so no measured query absorbs JVM/codegen
  * warmup or file-footer reads. AQE is on; shuffle partitions match the
  * local core count rather than the 200 default.
  */
object Bench {

  /** The integration journeys whose stage walls the bench splits out —
    * since round 18 this is EVERY integration-tier row
    * (VerifyContractSpec pins the membership). Each entry mirrors its
    * query body's exact calls mapped onto three slots — build (initial
    * landing/training), refresh (the churn/commit step; a few bodies
    * have no churn step and record ~0 there), serve (the read/probe) —
    * the QUERY stays the oracle-gated artifact; this block only
    * re-times its stages so a bench regression names a stage, not just
    * a row. The two recall boards split train-models vs evaluate-tiers
    * instead (their build slot trains, the refresh slot computes the
    * shared brute pool, serve gates the tiers).
    */
  val stageJourneyNames: Set[String] = SparkEntry.integrationQueries

  /** (name, jsonObject) per journey: {"build_sec":…,"refresh_sec":…,
    * "serve_sec":…,"serve_rows":…}. Scratch dirs are cleaned per
    * journey; failures yield an "err" object instead of killing the
    * bench line.
    */
  private[graft] def stageJourneys(spark: SparkSession, sfDir: String): Seq[(String, String)] = {
    import graft.ops._
    def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
    // `extras`: additional named stage slots AFTER serve — the
    // persisted-parity rows spend roughly half their query wall on the
    // recompute twin + brute recall floor, which the three standard
    // slots can't name (the round-18 verdict's attribution gap); each
    // extra lands as "<name>_sec" so stages sum to >=0.9x the row wall
    def run(name: String, extras: Seq[(String, String => Unit)] = Nil)(
        build: String => Unit, refresh: String => Unit,
        serve: String => Long): (String, String) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench_stage").toString
      val idx = tmp + "/idx"
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val json = try {
        val b = time(build(idx))
        val r = time(refresh(idx))
        var n = 0L
        val sv = time { n = serve(idx) }
        val extraJson = extras.map { case (k, f) =>
          s""","${k}_sec":${time(f(idx))}"""
        }.mkString
        s"""{"build_sec":$b,"refresh_sec":$r,"serve_sec":$sv,"serve_rows":$n$extraJson}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stage journey $name FAILED: ${e.getMessage}")
        s"""{"err":"${e.getClass.getName}"}"""
      } finally {
        new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(tmp), true)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      name -> json
    }
    val emb = t("embeddings")
    val embN = emb.count()
    val q50 = emb.filter(col("vec_id") % 50 === 0)
    val docs = t("documents")
    val cust = t("customer")
    val pqMargin = math.max(32, math.ceil(embN * 0.02).toInt)
    val b90 = emb.filter(col("vec_id") % 10 =!= 9)
    // parity/floor stage mirrors for the persisted sim rows — the
    // recompute twin and the brute recall floor are those query bodies'
    // OTHER half (the part build/refresh/serve can't name)
    // the rotated corpus materializes ONCE and the 90%/query slices
    // derive from it — mirrors the round-19 query bodies (see the
    // sim_opq twin note in CorpusQueries / PqIndex.rotatedMat)
    def pqRotAll(opq: Boolean): org.apache.spark.sql.DataFrame =
      if (!opq) emb
      else {
        val basis = Pq.opqBasis(graft.ops.Pca.fit(b90, "embedding", 64, 64), 8)
        emb.withColumn("embedding", Pq.opqRotateExpr(col("embedding"), basis))
          .localCheckpoint(true)
      }
    def pqTwin(opq: Boolean): Unit = {
      val rotEmb = pqRotAll(opq)
      val rb90 = rotEmb.filter(col("vec_id") % 10 =!= 9)
      val rq = rotEmb.filter(col("vec_id") % 50 === 0)
      val cents = Similarity.ivfCentroids(rb90, "vec_id", "embedding", 8)
      val model = Pq.trainResidualFlat(rb90, "vec_id", "embedding", cents)
      Pq.ivfTopKPqFromLists(cents, model,
        Pq.pqLists(rotEmb, "vec_id", "embedding", cents, model)
          .localCheckpoint(true),
        rotEmb, rq, "vec_id", "embedding", 5, 8, pqMargin).count()
    }
    def imiTwin(opq: Boolean): Unit = {
      val rotEmb = pqRotAll(opq)
      val rb90 = rotEmb.filter(col("vec_id") % 10 =!= 9)
      val rq = rotEmb.filter(col("vec_id") % 50 === 0)
      val imi = IvfImi.train(rb90, "vec_id", "embedding", 16)
      val model = Pq.trainResidualImi(rb90, "vec_id", "embedding", imi)
      Pq.ivfTopKPqImi(rotEmb, rq, "vec_id", "embedding",
        imi, model, 5, 16, pqMargin).count()
    }
    def bruteFloor(): Unit = {
      Similarity.bruteTopKExact(emb, q50, "vec_id", "embedding", 5).count(); ()
    }
    // shared fixtures for the round-18 journey extension — each mirrors
    // its query body's construction verbatim
    val summarySpec = graft.lake.MaterializedAgg.Spec(
      dims = Seq("o_orderstatus", "o_orderpriority"),
      sums = Seq("sum_cents" -> SparkEntry.cents(col("o_totalprice"))),
      mins = Seq("min_orderkey" -> col("o_orderkey")),
      maxs = Seq("max_orderkey" -> col("o_orderkey")))
    val cdcSpec = graft.lake.MaterializedAgg.Spec(Seq("o_orderstatus", "o_orderpriority"),
      sums = Seq("sum_cents" -> col("vc")))
    def cdcSelect(df: org.apache.spark.sql.DataFrame) = df.select(
      col("o_orderkey").cast("string").as("_id"),
      col("o_orderstatus"), col("o_orderpriority"),
      SparkEntry.cents(col("o_totalprice")).as("vc"))
    val cdcOrders = cdcSelect(t("orders"))
    val cdcOrdersHalf = cdcSelect(t("orders").filter(col("o_orderkey") % 2 === 0))
    def cdcLake(idx: String) = new graft.lake.SnapshotLake(spark, s"$idx/lake", "_id")
    def snapLake(idx: String, key: String) = new graft.lake.SnapshotLake(spark, s"$idx/lake", key)
    val docsSlim = docs.select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val custSlim = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val ordersZm = t("orders").select(col("o_orderkey"), col("o_totalprice"))
    val ordersZm3 = t("orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val hhOrders = t("orders").withColumn("hh_key",
      when(col("o_orderkey") % 2 === 0,
        concat(lit("hot"), (col("o_orderkey") % 5).cast("string")))
        .otherwise(concat(lit("cold"), col("o_custkey").cast("string"))))
    val repairState = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("nk")).orderBy(col("updated").desc, col("_id").desc)
      SparkEntry.versionsDf(spark, sfDir).filter(col("nk") % 4 === 0)
        .select(col("_id"), col("nk"), col("updated"))
        .withColumn("rk", row_number().over(w))
        .withColumn("prev", lag(col("_id"), 1).over(w))
        .select(col("_id"), col("nk"),
          when(col("rk") > 1, lit(true)).as("obsolete_version"),
          when(col("rk") > 1, col("prev")).as("updated_to"))
        .withColumn("grp", graft.core.NtpIds.group(col("_id")))
        .withColumn("bucket", pmod(hash(col("nk")), lit(4)))
    }
    val out = Seq(
      run("sim_ivf_persisted_topk")(
        idx => { SimilarityIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nList = 8); () },
        idx => { SimilarityIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => SimilarityIndex.topKInt8(emb, q50, "vec_id", "embedding", idx, 5, 2).count()),
      run("sim_pq_persisted_topk", extras = Seq(
        "parity" -> (_ => pqTwin(false)), "floor" -> (_ => bruteFloor())))(
        idx => { PqIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nList = 8); () },
        idx => { PqIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => PqIndex.topK(emb, q50, "vec_id", "embedding", idx, 5, 8, pqMargin).count()),
      run("sim_mmr_indexed")(
        idx => { SimilarityIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nList = 8); () },
        idx => { SimilarityIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => Similarity.mmrTopKIndexed(emb, q50, "vec_id", "embedding", idx,
          poolK = 10, k = 5, nProbe = 8).count()),
      run("sim_mmr_pq")(
        idx => { PqIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nList = 8); () },
        idx => { PqIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => Similarity.mmrTopKPq(emb, q50, "vec_id", "embedding", idx,
          poolK = 10, k = 5, nProbe = 8,
          margin = math.min(embN, Pq.MaxRerankMargin.toLong).toInt).count()),
      run("enrich_fuzzy_indexed")(
        idx => { FuzzyJoinIndex.build(
          cust.filter(col("c_custkey") % 10 =!= 9).select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", idx, maxDist = 2); () },
        idx => { FuzzyJoinIndex.refresh(
          cust.select(col("c_custkey"), col("c_name")), "c_custkey", "c_name", idx); () },
        idx => FuzzyJoinIndex.probe(
          cust.filter(col("c_custkey") % 100 === 0)
            .select((col("c_custkey") + 1000000L).as("p_id"),
              expr("replace(c_name, '1', '7')").as("p_name")),
          "p_id", "p_name", idx).count()),
      run("txt_bm25_indexed")(
        idx => { PostingsIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", idx); () },
        idx => { PostingsIndex.refresh(docs, "doc_id", "text", idx); () },
        idx => PostingsIndex.bm25(spark, idx, Seq("spark", "vector", "merge", "stream"))
          .orderBy(col("score").desc, col("doc")).limit(50).count()),
      run("txt_bpe_apply")(
        idx => { BpeIndex.build(
          docs.withColumn("text", CorpusQueries.bpeAugText)
            .filter(pmod(col("doc_id"), lit(3)) =!= 2), "text", idx, 12); () },
        idx => { BpeIndex.refresh(
          docs.withColumn("text", CorpusQueries.bpeAugText), "text", idx); () },
        idx => BpeIndex.tokenCounts(
          docs.withColumn("text", CorpusQueries.bpeAugText), "doc_id", "text", idx).count()),
      run("dedup_cluster_incremental")(
        idx => { ClusterIndex.build(
          docs.filter(col("doc_id") % 7 =!= 3)
            .withColumn("text", when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" drifted placeholder"))).otherwise(col("text"))),
          "doc_id", "text", idx); () },
        idx => { ClusterIndex.refresh(docs, "doc_id", "text", idx); () },
        idx => ClusterIndex.serve(spark, idx).count()),
      run("sem_cluster_incremental")(
        idx => { SemDedupIndex.build(
          emb.filter(col("vec_id") % 10 =!= 9)
            .withColumn("embedding",
              when(col("vec_id") % 13 === 0 && col("vec_id") > 8,
                transform(col("embedding"), x => -x)).otherwise(col("embedding"))),
          "vec_id", "embedding", idx, nList = 8, threshold = BigDecimal("0.35")); () },
        idx => { SemDedupIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => SemDedupIndex.serve(spark, idx).count()),

      // ---- round-18 extension: the rest of the integration tier ----
      run("sim_imi_persisted_topk", extras = Seq(
        "parity" -> (_ => imiTwin(false)), "floor" -> (_ => bruteFloor())))(
        idx => { ImiPqIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nCells = 16); () },
        idx => { ImiPqIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => ImiPqIndex.topK(emb, q50, "vec_id", "embedding", idx, 5, 16, pqMargin).count()),
      run("sim_imi_opq_persisted_topk", extras = Seq(
        "parity" -> (_ => imiTwin(true)), "floor" -> (_ => bruteFloor())))(
        idx => { ImiPqIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nCells = 16, opq = true); () },
        idx => { ImiPqIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => ImiPqIndex.topK(emb, q50, "vec_id", "embedding", idx, 5, 16, pqMargin).count()),
      run("sim_opq_persisted_topk", extras = Seq(
        "parity" -> (_ => pqTwin(true)), "floor" -> (_ => bruteFloor())))(
        idx => { PqIndex.build(emb.filter(col("vec_id") % 10 =!= 9),
          "vec_id", "embedding", idx, nList = 8, opq = true); () },
        idx => { PqIndex.refresh(emb, "vec_id", "embedding", idx); () },
        idx => PqIndex.topK(emb, q50, "vec_id", "embedding", idx, 5, 8, pqMargin).count()),
      run("dedup_incremental")(
        idx => { DedupIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", idx); () },
        idx => { DedupIndex.refresh(docs, "doc_id", "text", idx); () },
        idx => DedupIndex.candidatePairs(spark, idx).count()),
      run("txt_stats_incremental")(
        idx => { TextIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", idx); () },
        idx => { TextIndex.refresh(docs, "doc_id", "text", idx); () },
        idx => TextIndex.serve(spark, idx).count()),
      run("txt_clf_persisted")(
        idx => { ClfIndex.build(docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          col("lang") === "en", idx); () },
        idx => { ClfIndex.refresh(docs.filter(col("doc_id") % 10 =!= 0), docs,
          "doc_id", "text", col("lang") === "en", idx); () },
        idx => ClfIndex.serve(spark, idx).count()),
      run("txt_lm_incremental")(
        idx => SparkEntry.parDrops(0 to 1) { d => Relevance.landLmDrop(
          docs.filter(pmod(col("doc_id"), lit(3)) === d), "doc_id", "text", idx, s"drop$d") },
        idx => Relevance.landLmDrop(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text", idx, "drop2"),
        idx => Relevance.scoreAgainstCounts(docs, "doc_id", "text",
          Relevance.serveLmCounts(spark, idx)).count()),
      run("txt_dsir_incremental")(
        idx => SparkEntry.parDrops(0 to 1) { d => Curation.landDsirDrop(
          docs.filter(pmod(col("doc_id"), lit(3)) === d), "doc_id", "text",
          col("lang") === "en", idx, s"drop$d") },
        idx => Curation.landDsirDrop(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text",
          col("lang") === "en", idx, "drop2"),
        idx => Curation.scoreAgainstDsirCounts(docs, "doc_id", "text",
          Curation.serveDsirCounts(spark, idx)).count()),
      run("pca_moments_incremental")(
        idx => { SparkEntry.parDrops(0 to 1) { d =>
            PcaIndex.landDrop(emb.filter(pmod(col("vec_id"), lit(3)) === d),
              "embedding", 64, idx, s"drop$d"); () }
          PcaIndex.compact(spark, idx); () },
        idx => { val extra = emb.filter(pmod(col("vec_id"), lit(3)) === 2 &&
            pmod(col("vec_id"), lit(5)) === 0)
          PcaIndex.landDrop(emb.filter(pmod(col("vec_id"), lit(3)) === 2),
            "embedding", 64, idx, "drop2")
          PcaIndex.landDrop(extra, "embedding", 64, idx, "drop2-dup")
          PcaIndex.landDrop(extra, "embedding", 64, idx, "drop2-retract", sign = -1); () },
        idx => PcaIndex.serveMoments(spark, idx).count()),
      run("q_summary_incremental")(
        idx => { SparkEntry.parDrops(0 to 1) { d => graft.lake.MaterializedAgg.landDrop(
            t("orders").filter(pmod(col("o_orderkey"), lit(3)) === d), summarySpec, idx, s"drop$d") }
          graft.lake.MaterializedAgg.compact(spark, idx, summarySpec, "base"); () },
        idx => graft.lake.MaterializedAgg.landDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === 2), summarySpec, idx, "drop2"),
        idx => graft.lake.MaterializedAgg.serve(spark, idx, summarySpec).count()),
      run("q_distinct_incremental")(
        idx => SparkEntry.parDrops(0 to 1) { d => Sketches.landDistinctDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderstatus"), "o_custkey", idx, s"drop$d") },
        idx => Sketches.landDistinctDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === 2),
          Seq("o_orderstatus"), "o_custkey", idx, "drop2"),
        idx => Sketches.serveDistinct(spark, idx, Seq("o_orderstatus"), "o_custkey").count()),
      run("q_approx_distinct_bound")(
        idx => SparkEntry.parDrops(0 to 1) { d => Sketches.landHllDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderpriority"), "o_custkey", idx, s"drop$d") },
        idx => Sketches.landHllDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === 2),
          Seq("o_orderpriority"), "o_custkey", idx, "drop2"),
        idx => {
          val orders = t("orders")
          val est = Sketches.serveHllEstimate(spark, idx, Seq("o_orderpriority"))
          orders.groupBy(col("o_orderpriority"))
            .agg(count_distinct(col("o_custkey")).as("n_exact"))
            .join(est, "o_orderpriority").count()
        }),
      run("q_hll_set_algebra")(
        idx => { val cut = to_date(lit("1995-01-01"))
          SparkEntry.parDrops(0 to 1) { d => Sketches.landHllDrop(
            t("orders").filter(col("o_orderdate") < cut &&
              pmod(col("o_orderkey"), lit(2)) === d),
            Seq("o_orderpriority"), "o_custkey", s"$idx/a", s"drop$d") }; () },
        idx => { val cut = to_date(lit("1995-01-01"))
          SparkEntry.parDrops(0 to 1) { d => Sketches.landHllDrop(
            t("orders").filter(col("o_orderdate") >= cut &&
              pmod(col("o_orderkey"), lit(2)) === d),
            Seq("o_orderpriority"), "o_custkey", s"$idx/b", s"drop$d") }; () },
        idx => Sketches.serveHllSetAlgebra(spark, s"$idx/a", s"$idx/b",
          Seq("o_orderpriority")).count()),
      run("q_quantile_sketch_bound")(
        idx => SparkEntry.parDrops(0 to 1) { d => Sketches.landQuantileDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderpriority"), col("o_totalprice"), 64, idx, s"drop$d") },
        idx => Sketches.landQuantileDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === 2),
          Seq("o_orderpriority"), col("o_totalprice"), 64, idx, "drop2"),
        idx => t("orders").join(
          Sketches.serveQuantile(spark, idx, Seq("o_orderpriority"), 1, 2),
          "o_orderpriority").groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_exact")).count()),
      run("q_heavy_hitters")(
        idx => SparkEntry.parDrops(0 to 1) { d => Sketches.landTopKDrop(
          hhOrders.filter(pmod(col("o_orderkey"), lit(3)) === d),
          Nil, "hh_key", k = 64, idx, s"drop$d") },
        idx => Sketches.landTopKDrop(
          hhOrders.filter(pmod(col("o_orderkey"), lit(3)) === 2),
          Nil, "hh_key", k = 64, idx, "drop2"),
        idx => hhOrders.groupBy(col("hh_key")).agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(Sketches.totalCutoff(spark, idx, Nil)))
          .filter(col("n_exact") > col("total_cutoff"))
          .join(Sketches.serveTopK(spark, idx, Nil, "hh_key"), Seq("hh_key")).count()),
      run("q_hist_median_est")(
        idx => SparkEntry.parDrops(0 to 1) { d => Sketches.landHistDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderpriority"), SparkEntry.cents(col("o_totalprice")),
          lo = 0L, width = 500000L, nBuckets = 120, idx, s"drop$d") },
        idx => Sketches.landHistDrop(
          t("orders").filter(pmod(col("o_orderkey"), lit(3)) === 2),
          Seq("o_orderpriority"), SparkEntry.cents(col("o_totalprice")),
          lo = 0L, width = 500000L, nBuckets = 120, idx, "drop2"),
        idx => Sketches.quantileFromHist(
          Sketches.serveHist(spark, idx, Seq("o_orderpriority")),
          Seq("o_orderpriority"), num = 1, den = 2, lo = 0L, width = 500000L).count()),
      run("q_summary_cdc")(
        idx => { val lake = cdcLake(idx)
          val key = col("_id").cast("long")
          lake.overwrite(cdcOrders.filter(key % 3 =!= 2)
            .withColumn("vc", when(key % 5 === 0, col("vc") * 2).otherwise(col("vc"))))
          graft.lake.MaterializedAgg.landDrop(lake.readAt(1), cdcSpec, s"$idx/summary", "v1"); () },
        idx => { val lake = cdcLake(idx)
          val key = col("_id").cast("long")
          lake.upsert(cdcOrders.filter(key % 5 === 0 || key % 3 === 2))
          // the v1→2 change drop only reads committed manifests, so it
          // overlaps the v3 commit — mirroring the query body (guide §2.6)
          val f12 = graft.core.Overlap.par(graft.lake.MaterializedAgg.landChangesDrop(
            lake.changesBetween(1, 2, preImages = true), cdcSpec, s"$idx/summary", "v1to2"))
          lake.deleteWhere(key % 7 === 0)
          graft.lake.MaterializedAgg.landChangesDrop(
            lake.changesBetween(2, 3, preImages = true), cdcSpec, s"$idx/summary", "v2to3")
          graft.core.Overlap.await(f12); () },
        idx => graft.lake.MaterializedAgg.serve(spark, s"$idx/summary", cdcSpec).count()),
      run("q_cdc_consume")(
        idx => { val lake = cdcLake(idx)
          val key = col("_id").cast("long")
          lake.overwrite(cdcOrdersHalf.filter(key % 3 =!= 2)
            .withColumn("vc", when(key % 5 === 0, col("vc") * 2).otherwise(col("vc"))))
          graft.lake.MaterializedAgg.landDrop(lake.readAt(1), cdcSpec, s"$idx/summary", "v1"); () },
        idx => { val lake = cdcLake(idx)
          val key = col("_id").cast("long")
          def fold(ch: org.apache.spark.sql.DataFrame, f: Long, to: Long): Unit =
            graft.lake.MaterializedAgg.landChangesDrop(ch, cdcSpec, s"$idx/summary", s"v${f}to$to")
          val consumer = new graft.lake.CdcConsumer(lake, s"$idx/offsets", startVersion = 1L)
          consumer.poll(fold)
          lake.upsert(cdcOrdersHalf.filter(key % 5 === 0 || key % 3 === 2))
          consumer.poll(fold)
          lake.deleteWhere(key % 7 === 0)
          val resumed = new graft.lake.CdcConsumer(lake, s"$idx/offsets", startVersion = 1L)
          resumed.poll(fold); resumed.poll(fold); () },
        idx => graft.lake.MaterializedAgg.serve(spark, s"$idx/summary", cdcSpec).count()),
      run("q_lake_point_lookup")(
        idx => { val lake = new graft.lake.LakeTable(spark, s"$idx/lake", "doc_id")
          lake.overwrite(docsSlim.repartition(8, col("doc_id"))); () },
        idx => { new graft.lake.LakeTable(spark, s"$idx/lake", "doc_id")
          .buildBloomIndex(); () },
        idx => new graft.lake.LakeTable(spark, s"$idx/lake", "doc_id")
          .lookupKeys(Seq("3", "7", "11", "999983"))._1.count()),
      run("q_snapshot_point_lookup")(
        idx => { val lake = snapLake(idx, "doc_id")
          lake.overwrite(docsSlim.repartition(8, col("doc_id")))
          graft.lake.BloomIndex.refreshSnapshot(lake, "doc_id"); () },
        idx => { val lake = snapLake(idx, "doc_id")
          lake.upsert(docsSlim.filter(col("doc_id") % 97 === 0)
            .withColumn("n_chars", col("n_chars") + lit(1L)))
          graft.lake.BloomIndex.refreshSnapshot(lake, "doc_id"); () },
        idx => graft.lake.BloomIndex.lookupSnapshot(snapLake(idx, "doc_id"), "doc_id",
          Seq("3", "7", "97", "999983"))._1.count()),
      run("q_lake_time_travel")(
        idx => { snapLake(idx, "c_custkey")
          .overwrite(custSlim.repartition(8, col("c_custkey"))); () },
        idx => { val lake = snapLake(idx, "c_custkey")
          lake.upsert(custSlim.filter(col("c_custkey") % 6 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + 1000.0))
          lake.deleteWhere(col("c_custkey") % 9 === 0); () },
        idx => { val lake = snapLake(idx, "c_custkey")
          lake.readAt(1).select(col("c_custkey"), col("c_acctbal").as("bal_v1"))
            .join(lake.read.select(col("c_custkey"), col("c_acctbal").as("bal_now")),
              Seq("c_custkey"), "left_outer").count() }),
      run("q_snapshot_changes")(
        idx => { snapLake(idx, "c_custkey").overwrite(
          cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
            .filter(col("c_custkey") % 3 === 0).repartition(8, col("c_custkey"))); () },
        idx => { val lake = snapLake(idx, "c_custkey")
          val c = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          lake.upsert(c.filter(col("c_custkey") % 6 === 0)
              .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
            .unionByName(c.filter(col("c_custkey") % 3 === 1)))
          lake.deleteWhere(col("c_custkey") % 9 === 0); () },
        idx => snapLake(idx, "c_custkey").changesSince(1L).count()),
      run("q_zonemap_agg")(
        idx => { val lake = snapLake(idx, "o_orderkey")
          lake.overwrite(ordersZm.repartition(8, col("o_orderkey")))
          graft.lake.ZoneMapIndex.refreshSnapshot(lake, "o_totalprice"); () },
        idx => { val lake = snapLake(idx, "o_orderkey")
          lake.upsert(ordersZm.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 600000.0))
          graft.lake.ZoneMapIndex.refreshSnapshot(lake, "o_totalprice"); () },
        idx => graft.lake.ZoneMapIndex.aggregateFromStats(
          snapLake(idx, "o_orderkey"), "o_totalprice").count()),
      run("q_zonemap_range")(
        idx => { val lake = snapLake(idx, "o_orderkey")
          lake.overwrite(ordersZm3.repartition(8, col("o_orderkey")))
          lake.cluster(Seq(col("o_totalprice")), 8)
          graft.lake.ZoneMapIndex.refreshSnapshot(lake, "o_totalprice"); () },
        idx => { val lake = snapLake(idx, "o_orderkey")
          lake.upsert(ordersZm3.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 600000.0))
          graft.lake.ZoneMapIndex.refreshSnapshot(lake, "o_totalprice"); () },
        idx => graft.lake.ZoneMapIndex.rangeLookupSnapshot(
          snapLake(idx, "o_orderkey"), "o_totalprice",
          lit(400000.0), lit(700000.0))._1.count()),
      run("ingest_orc_roundtrip")(
        idx => t("orders").write.orc(s"$idx/orders_orc"),
        _ => (), // no churn step: the body is write -> read back
        idx => graft.sources.Sources.loadOrc(spark, s"$idx/orders_orc")
          .filter(col("o_orderkey") % 100 === 0).count()),
      run("ntp_repair_report")(
        idx => { val lake = new graft.lake.LakeTable(spark, s"$idx/lake", "_id",
            graft.pipeline.IngestJob.LakePartitionCols, nBuckets = 4)
          lake.overwrite(repairState); () },
        _ => (), // the repair IS the serve step's measured work
        idx => graft.pipeline.RepairJob.run(spark,
          new graft.lake.LakeTable(spark, s"$idx/lake", "_id",
            graft.pipeline.IngestJob.LakePartitionCols, nBuckets = 4), "nk").count()),
      run("q_stream_topk")(
        _ => (), // the input is the events file itself — no landing step
        idx => { val stream = SparkEntry.eventsStream(spark, sfDir).select(col("event_type"))
          graft.streaming.EventStreams.topkSink(s"$idx/topk", Nil, "event_type", 64)(stream)
            .option("checkpointLocation", s"$idx/ckpt").start().awaitTermination(); () },
        idx => Sketches.serveTopK(spark, s"$idx/topk", Nil, "event_type").count()),
      {
        // the recall board splits train-models vs shared-exact vs gate
        var kmeansCents: Seq[(Long, Seq[Float])] = null
        var hier: IvfHier = null
        var imiBook: IvfImi = null
        var imiBookR: IvfImi = null
        var pcaModel: Pca.PcaModel = null
        var resHier: PqModel = null
        var resImi: PqModel = null
        var resImiR: PqModel = null
        var embR: org.apache.spark.sql.DataFrame = null
        var exact: org.apache.spark.sql.DataFrame = null
        run("sim_recall_board")(
          _ => { kmeansCents = Similarity.ivfCentroidsKMeans(emb, "vec_id", "embedding", 8)
            hier = IvfHier.train(emb, "vec_id", "embedding", 8, m = 2)
            imiBook = IvfImi.train(emb, "vec_id", "embedding", 8)
            val pcaFull = Pca.fit(emb, "embedding", 64, 64)
            pcaModel = Pca.PcaModel(pcaFull.mean,
              pcaFull.eigenvalues.take(48), pcaFull.components.take(48))
            embR = emb.withColumn("embedding",
              Pq.opqRotateExpr(col("embedding"), Pq.opqBasis(pcaFull, 8)))
              .localCheckpoint(true)
            imiBookR = IvfImi.train(embR, "vec_id", "embedding", 8)
            resHier = Pq.trainResidualHier(emb, "vec_id", "embedding", hier)
            resImi = Pq.trainResidualImi(emb, "vec_id", "embedding", imiBook)
            resImiR = Pq.trainResidualImi(embR, "vec_id", "embedding", imiBookR); () },
          _ => { exact = Similarity.bruteTopKExact(emb, q50, "vec_id", "embedding", 5)
            .select(col("qid"), col("cid")).localCheckpoint(true); () },
          _ => {
            val m2 = math.max(32, math.ceil(embN * 0.02).toInt)
            def gate(approx: org.apache.spark.sql.DataFrame) =
              exact.join(approx.select(col("qid"), col("cid"), lit(1).as("__hit")),
                Seq("qid", "cid"), "left_outer")
                .agg(count(lit(1)).as("n_pairs"),
                  sum(coalesce(col("__hit"), lit(0))).as("hits"))
            Seq(
              gate(Similarity.ivfTopKWith(kmeansCents, emb, q50, "vec_id", "embedding", 5, 2)),
              gate(Similarity.ivfTopK(emb, q50, "vec_id", "embedding", 5, 8, 2)),
              gate(Similarity.ivfTopKHier(emb, q50, "vec_id", "embedding", hier, 5, 2)),
              gate(Similarity.ivfTopKInt8(emb, q50, "vec_id", "embedding", 5, 8, 2)),
              gate(Pq.ivfTopKPq(emb, q50, "vec_id", "embedding", 5, 8, 2, m2)),
              gate(Pq.ivfTopKPqHier(emb, q50, "vec_id", "embedding", hier, resHier, 5, 2, m2)),
              gate(Similarity.ivfTopKImi(emb, q50, "vec_id", "embedding", imiBook, 5, 2)),
              gate(Pq.ivfTopKPqImi(emb, q50, "vec_id", "embedding", imiBook, resImi, 5, 2, m2)),
              gate(Pq.ivfTopKPq(embR, embR.filter(col("vec_id") % 50 === 0),
                "vec_id", "embedding", 5, 8, 2, m2)),
              gate(Pq.ivfTopKPqImi(embR, embR.filter(col("vec_id") % 50 === 0),
                "vec_id", "embedding", imiBookR, resImiR, 5, 2, m2)),
              gate(Similarity.multiProbeTopKExact(emb, q50, "vec_id", "embedding", 5, 4, 64)),
              gate(Pca.pcaTopK(emb, q50, "vec_id", "embedding", pcaModel, 5,
                math.max(25, math.ceil(embN * 0.2).toInt)))
            ).reduce(_ unionByName _).count()
          })
      },
      {
        var hiers: Seq[IvfHier] = null
        var exact: org.apache.spark.sql.DataFrame = null
        run("sim_hier_m_board")(
          _ => { hiers = Seq(1, 2, 4).map(m =>
            IvfHier.train(emb, "vec_id", "embedding", 16, m = m)); () },
          _ => { exact = Similarity.bruteTopKExact(emb, q50, "vec_id", "embedding", 5)
            .select(col("qid"), col("cid")).localCheckpoint(true); () },
          _ => hiers.map { h =>
            exact.join(Similarity.ivfTopKHier(emb, q50, "vec_id", "embedding", h, 5, 2)
                .select(col("qid"), col("cid"), lit(1).as("__hit")),
                Seq("qid", "cid"), "left_outer")
              .agg(count(lit(1)).as("n_pairs"),
                sum(coalesce(col("__hit"), lit(0))).as("hits"))
          }.reduce(_ unionByName _).count())
      })
    require(out.map(_._1).toSet == stageJourneyNames,
      s"stage journey list drifted from the pinned names: ${out.map(_._1)}")
    out
  }

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
      val stage = s"$tmp/_stage"
      spark.read.parquet(s"$sfDir/events.parquet").limit(64)
        .coalesce(1).write.parquet(stage)
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(stage).getFileSystem(hconf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$tmp/events.parquet"))
      val dstage = s"$tmp/_dstage"
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .coalesce(1).write.parquet(dstage)
      val dpart = fs.listStatus(new org.apache.hadoop.fs.Path(dstage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(dpart, new org.apache.hadoop.fs.Path(s"$tmp/documents.parquet"))
      val cstage = s"$tmp/_cstage"
      spark.read.parquet(s"$sfDir/customer.parquet").limit(64)
        .coalesce(1).write.parquet(cstage)
      val cpart = fs.listStatus(new org.apache.hadoop.fs.Path(cstage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(cpart, new org.apache.hadoop.fs.Path(s"$tmp/customer.parquet"))
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
    // per-STAGE walls for the persisted-index journeys (round-17): the
    // journey totals above conflate scratch-index build, churn refresh
    // and the probe; the number a 100 TB operator actually cares about
    // is SERVE latency, so it gets its own tracked key per journey.
    // Runs once, after the min-of-two suite (journeys carry fs noise
    // either way; the suite rows above remain the regression anchor).
    val stagesJson =
      if (only.isEmpty)
        "\"stages\":" + stageJourneys(spark, sfDir).map { case (n, j) =>
          "\"" + n + "\":" + j }.mkString("{", ",", "}") + ","
      else ""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","pure_sec":${pure.map(_._2).sum},"integration_sec":${integ.map(_._2).sum},"pure_n":${pure.size},"integration_n":${integ.size},"errors":$errorsJson,$stagesJson"queries":$qs,"runs":$runsJson,"sf":"$sfDir"}"""
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
    * is each query's min over the passes, `passes` the raw passes, and
    * `errors` (name -> exception class) every query that threw in any
    * pass. A failed query is reported, never timed: its few ms of plan
    * building would read as a spectacular speedup in the totals.
    */
  private[graft] final case class Timed(best: Seq[(String, Double)],
                                        passes: Seq[Seq[(String, Double)]],
                                        errors: Seq[(String, String)])

  /** Time each of `queries` (materialized by `count()`) in order, `passes`
    * times, running `between` after every query. A throw is printed to
    * stderr with its query's name and recorded in [[Timed.errors]].
    */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
                                 queries: Seq[(String, (SparkSession, String) => DataFrame)],
                                 passes: Int)(between: => Unit): Timed = {
    val runs = Seq.fill(passes)(queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r: Either[String, Double] =
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
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
    val ok = runs.map(_.collect { case (name, Right(t)) if !failed(name) => name -> t })
    Timed(ok.head.map { case (name, _) => name -> ok.map(_.toMap.apply(name)).min }, ok, errors)
  }
}
