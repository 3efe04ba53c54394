package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{MaterializedAgg, SnapshotLake}
import graft.ops.{Dedup, DedupIndex, Sketches}
import graft.pipeline.DropCycle

class DropCycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String, Long)*) =
    rows.toDF("_id", "text", "grp").select(col("_id").cast("string").as("_id"),
      col("text"), col("grp"))

  // deterministic per-row URL: grp-keyed hosts under a multi-label
  // public suffix, so the domain tier exercises the PSL rule
  private def withUrl(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("url",
      concat(lit("https://a"), col("grp"), lit(".co.uk/d/"), col("_id")))

  test("two monthly cycles: every artifact converges and maintenance follows churn") {
    val root = Files.createTempDirectory("dropcycle").toString
    val lake = new SnapshotLake(spark, root + "/lake", "_id")
    val spec = MaterializedAgg.Spec(Seq("grp"), sums = Seq("chars" -> length(col("text")).cast("long")))
    val conf = DropCycle.Config(
      textCol = Some("text"),
      bandIdxPath = Some(root + "/bandidx"),
      summary = Some((spec, root + "/summary")),
      hll = Some((Seq("grp"), "_id", root + "/hll")),
      topk = Some((Nil, "grp", 8, root + "/topk")),
      lmPath = Some(root + "/lm"),
      postingsPath = Some(root + "/bm25idx"),
      clusterIdxPath = Some(root + "/clidx"),
      dsir = Some((col("grp") === 0L, root + "/dsir")),
      bpePath = Some(root + "/bpe"),
      domainTokens = Some(("url", root + "/domains")),
      clfScoresPath = Some(root + "/clfidx"),
      expect = Some((Seq(graft.ops.Expectations.notNull("text")),
        root + "/quarantine", "c1")))

    val drop1 = withUrl(docs(
      (1L, "the quick brown fox jumps over the lazy dog", 0L),
      (2L, "the quick brown fox jumps over the lazy dogs", 0L),
      (3L, "completely different text about spark engines", 1L)))
    // the BPE vocab is PINNED before the cycles (an explicit build
    // decision, like the IVF codebook); cycles only grow the word cache
    graft.ops.BpeIndex.build(drop1, "text", root + "/bpe", nMerges = 8)
    // ...and so is the classifier model (trained on drop 1's labels);
    // cycles only delta-rescore changed docs under it
    graft.ops.ClfIndex.build(drop1, drop1, "_id", "text",
      col("grp") === 0L, root + "/clfidx")
    val r1 = DropCycle.run(lake, drop1, conf)
    assert(r1("lake") == ((0L, 1L)))

    // drop 2: updates doc 3, re-delivers doc 1 unchanged, inserts doc 4
    // — plus one DIRTY row (null text) the expect step must dead-letter
    // before anything downstream sees it
    val drop2 = withUrl(docs(
      (1L, "the quick brown fox jumps over the lazy dog", 0L),
      (3L, "completely different text about flink engines", 1L),
      (4L, "the quick brown fox jumps over the lazy doge", 0L))
      .unionByName(Seq(("9", null.asInstanceOf[String], 0L)).toDF("_id", "text", "grp")))
    val conf2 = conf.copy(expect = conf.expect.map { case (r, p, _) => (r, p, "c2") })
    val r2 = DropCycle.run(lake, drop2, conf2)
    assert(r2("lake") == ((1L, 2L)))
    // the dq step split 3 clean / 1 dirty; the dirty row is quarantined
    // with its rule and never landed
    assert(r2("dq") == ((3L, 1L)), s"dq split drifted: ${r2("dq")}")
    val quarantined = spark.read.parquet(root + "/quarantine").collect()
    assert(quarantined.map(_.getString(0)).toSeq == Seq("9"))
    assert(quarantined.head.getSeq[String](
      quarantined.head.fieldIndex("violated")) == Seq("not_null(text)"))
    assert(lake.read.filter(col("_id") === "9").count() == 0)

    // band maintenance was churn-scoped: doc 1 carried, docs 3+4 signed
    assert(r2("band") == ((1L, 2L)))
    // the posting-list index rode the same fingerprint-gated delta
    assert(r2("postings") == ((1L, 2L)))
    // ...and so did the classifier scores, under the PINNED model: doc 1
    // carried verbatim, docs 3+4 rescored; doc 2 (out of batch) untouched
    assert(r2("clf") == ((1L, 2L)), s"clf delta drifted: ${r2("clf")}")
    val clfModel = graft.ops.ClfIndex.loadModel(spark, root + "/clfidx")
    val doc3Want = graft.ops.QualityClassifier.score(
      lake.read.filter(col("_id") === "3"), "_id", "text", clfModel)
      .collect().head.toSeq
    assert(graft.ops.ClfIndex.serve(spark, root + "/clfidx")
      .filter(col("doc") === "3")
      .select(col("doc"), col("n_fbuckets"), col("clf_logit"), col("clf_prob"))
      .collect().head.toSeq == doc3Want,
      "the rescored doc must match a from-scratch score under the pinned model")
    assert(graft.ops.ClfIndex.serve(spark, root + "/clfidx").count() == 4L)
    // BPE cache: drop 2 brings exactly two previously-unseen words
    // ('flink', 'doge') — the pinned merges never retrain, the cache
    // grows by the churn's new vocabulary only
    assert(r2("bpe")._2 == 2L, s"bpe cache refresh drifted: ${r2("bpe")}")
    val mergesAfter = spark.read.parquet(root + "/bpe/merges").count()
    assert(mergesAfter == 8L, "cycles must not retrain the pinned merges")
    // zone-map stats: every file of cycle 2's version carries them in
    // its manifest entry, so the served range scan prunes with no refresh
    assert(lake.readManifest(lake.latestVersion.get).get.files
      .forall(_.stats.exists(_.cols.contains("grp"))))
    val (zrows, zopened) = graft.lake.ZoneMapIndex.rangeLookupSnapshot(
      lake, "grp", lit(1L), lit(1L))
    assert(zrows.select("_id").as[String].collect().sorted.toSeq == Seq("3"))
    assert(zopened <= lake.readManifest(lake.latestVersion.get).get.files.size)

    // lake state == the batch-merged truth
    val state = lake.read.orderBy("_id").collect().map(r => r.getString(0) -> r.getString(1))
    assert(state.map(_._1).toSeq == Seq("1", "2", "3", "4"))
    assert(state(2)._2.contains("flink"))

    // summary (full seg + CDC seg) == one-shot aggregate over the lake
    val served = MaterializedAgg.serve(spark, root + "/summary", spec)
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = lake.read.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(length(col("text")).cast("long")).as("chars"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served == oneShot)

    // cluster labels == a from-scratch cluster index over the final
    // corpus (numeric string keys ride the try_cast surrogate)
    val servedCl = graft.ops.ClusterIndex.serve(spark, root + "/clidx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.ClusterIndex.build(
      lake.read.selectExpr("try_cast(_id AS BIGINT) AS d", "text"),
      "d", "text", root + "/clscratch")
    val scratchCl = graft.ops.ClusterIndex.serve(spark, root + "/clscratch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(servedCl == scratchCl && servedCl.nonEmpty,
      s"cluster tier diverged: $servedCl vs $scratchCl")

    // band index == the from-scratch index over the final corpus
    val got = DedupIndex.candidatePairs(spark, root + "/bandidx")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    DedupIndex.build(lake.read, "_id", "text", root + "/scratchidx")
    val want = DedupIndex.candidatePairs(spark, root + "/scratchidx")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)

    // posting-list index: an indexed BM25 probe over the maintained index
    // is bit-identical to the tokenize-per-query recompute on the lake
    val probeTerms = Seq("quick", "spark", "flink")
    val viaIdx = graft.ops.PostingsIndex.bm25(spark, root + "/bm25idx", probeTerms)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    val direct = graft.ops.Relevance.bm25(lake.read, "_id", "text", probeTerms)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(viaIdx == direct && viaIdx.nonEmpty)

    // hll distinct per grp: re-delivered ids are union no-ops
    val est = Sketches.serveHllEstimate(spark, root + "/hll", Seq("grp"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(est == Seq((0L, 3L), (1L, 1L)))

    // topk: event-stream counts over inserted/updated rows only — the
    // re-delivered unchanged doc 1 cancelled out of the v1->v2 feed
    // (drop1: grp0 x2 + grp1 x1; drop2 net: doc3 update + doc4 insert)
    val topk = Sketches.serveTopK(spark, root + "/topk", Nil, "grp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(topk == Map(0L -> ((3L, 3L)), 1L -> ((2L, 2L))))

    // bigram-LM counts: pre-image retraction makes the merged model equal
    // a from-scratch retrain over the final corpus, and scoring with it
    // is bit-identical to the one-shot path
    import graft.ops.Relevance
    val servedLm = Relevance.serveLmCounts(spark, root + "/lm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val scratchLm = Relevance.bigramCountSegment(lake.read, "_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(servedLm == scratchLm && servedLm.nonEmpty)
    val viaSegments = Relevance.scoreAgainstCounts(lake.read, "_id", "text",
        Relevance.serveLmCounts(spark, root + "/lm"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val oneShotLm = Relevance.bigramLmScore(lake.read, "_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(viaSegments == oneShotLm)

    // DSIR counts ride the same pre-image feed: the merged model scores
    // the corpus bit-identically to the one-shot path (doc 3's old
    // features retracted by the v1->v2 change segment)
    import graft.ops.Curation
    val dsirTgt = col("grp") === 0L
    val servedDsir = Curation.scoreAgainstDsirCounts(lake.read, "_id", "text",
        Curation.serveDsirCounts(spark, root + "/dsir"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val oneShotDsir = Curation.dsirWeights(lake.read, "_id", "text", dsirTgt)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(servedDsir == oneShotDsir && servedDsir.nonEmpty)

    // BPE serve parity: the maintained cache serves the lake's token
    // counts exactly as a direct apply under the pinned merges
    val pinnedMerges = graft.ops.BpeIndex.readMerges(spark, root + "/bpe")
    val servedBpe = graft.ops.BpeIndex.tokenCounts(lake.read, "_id", "text", root + "/bpe")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val directBpe = graft.ops.Bpe.docTokenCounts(lake.read, "_id", "text", pinnedMerges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(servedBpe == directBpe && servedBpe.nonEmpty)

    // domain-token totals: the merged segments equal a from-scratch
    // recompute over the lake, under the PSL-honest registrable domain
    // (a0.co.uk / a1.co.uk — a naive last-two rule would pool them)
    import graft.ops.Curation
    def scratchDomains = lake.read.select(
        Curation.registrableDomain(
          regexp_extract(col("url"), "^https?://([^/]+)", 1)).as("domain"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("domain").agg(sum(col("n")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val servedDom = Curation.serveDomainTokens(spark, root + "/domains")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(servedDom == scratchDomains && servedDom.exists(_._1 == "a0.co.uk"),
      s"domain totals diverged: $servedDom vs $scratchDomains")

    // bloom: point lookup after the cycles opens fewer files than exist
    // and serves the post-upsert value
    val (rows, opened) = graft.lake.BloomIndex.lookupSnapshot(lake, "_id", Seq("3"))
    assert(rows.collect().head.getAs[String]("text").contains("flink"))
    assert(opened <= lake.readManifest(lake.latestVersion.get).get.files.size)

    // CRASH RERUN: the runbook's recovery contract is "a crashed cycle
    // re-runs safely" — re-running the SAME drop must be a no-op on
    // every served artifact: fingerprint gates carry all unchanged docs,
    // the rerun's CDC interval nets to zero (identical pre/post rows
    // cancel), HLL re-insertion is a union no-op
    val r3 = DropCycle.run(lake, drop2, conf2)
    // idempotent dead letters: the rerun REPLACES its seg=c2 quarantine
    // segment instead of appending a duplicate of row 9
    val quarAfterRerun = spark.read.parquet(root + "/quarantine").collect()
    assert(quarAfterRerun.map(_.getString(0)).toSeq == Seq("9"),
      s"rerun must not duplicate dead letters: ${quarAfterRerun.map(_.getString(0)).toSeq}")
    // a re-run whose FIXED input is now clean must delete the stale seg:
    // the previous run's dead letters must not keep indicting the drop
    val drop2clean = drop2.filter(col("text").isNotNull)
    DropCycle.run(lake, drop2clean, conf2)
    val segC2 = new org.apache.hadoop.fs.Path(root + "/quarantine/seg=c2")
    assert(!segC2.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(segC2),
      "a clean re-run under the same drop id must remove its stale dead letters")
    assert(r3("band") == ((3L, 0L)), s"rerun must re-sign nothing: ${r3("band")}")
    assert(r3("postings") == ((3L, 0L)), s"rerun must re-post nothing: ${r3("postings")}")
    assert(r3("cluster")._2 == 0L, s"rerun must relabel nothing: ${r3("cluster")}")
    val servedAfter = MaterializedAgg.serve(spark, root + "/summary", spec)
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(servedAfter == served, "rerun CDC segment must net to zero")
    val topkAfter = Sketches.serveTopK(spark, root + "/topk", Nil, "grp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(topkAfter == topk, "rerun top-k segment must net to zero")
    val estAfter = Sketches.serveHllEstimate(spark, root + "/hll", Seq("grp"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(estAfter == est, "HLL re-insertion must be a union no-op")
    val lmAfter = Relevance.serveLmCounts(spark, root + "/lm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(lmAfter == servedLm, "rerun LM change segment must net to zero")
    // rerun O(churn) observables for the round-16 tiers: the BPE cache
    // tokenizes NOTHING (every word already cached) and the domain
    // segment nets to zero
    assert(r3("bpe")._2 == 0L, s"rerun must tokenize nothing: ${r3("bpe")}")
    val domAfter = Curation.serveDomainTokens(spark, root + "/domains")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(domAfter == servedDom, "rerun domain segment must net to zero")
    val stateAfter = lake.read.orderBy("_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(stateAfter == state.toSeq, "lake rows unchanged by the rerun")
  }

  test("25-drop soak: artifact counts stay bounded under the compaction cadence, serve stays flat") {
    val root = Files.createTempDirectory("dropsoak").toString
    val lake = new SnapshotLake(spark, root + "/lake", "_id")
    val spec = MaterializedAgg.Spec(Seq("grp"),
      sums = Seq("chars" -> length(col("text")).cast("long")))
    val conf = DropCycle.Config(
      textCol = Some("text"),
      bandIdxPath = Some(root + "/bandidx"),
      summary = Some((spec, root + "/summary")),
      hll = Some((Seq("grp"), "_id", root + "/hll")),
      topk = Some((Nil, "grp", 8, root + "/topk")),
      lmPath = Some(root + "/lm"),
      dsir = Some((col("grp") === 0L, root + "/dsir")),
      bpePath = Some(root + "/bpe"),
      domainTokens = Some(("url", root + "/domains")))
    def segCount(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.exists) 0
      else d.listFiles().count(f => f.isDirectory && f.getName.startsWith("seg="))
    }
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    def text(i: Int, v: Int): String =
      (0 until 6).map(j => words((i * 7 + j * 3 + v) % words.length)).mkString(" ")
    def serveAll(): Double = {
      val t0 = System.nanoTime()
      MaterializedAgg.serve(spark, root + "/summary", spec).count()
      graft.ops.Relevance.serveLmCounts(spark, root + "/lm").count()
      Sketches.serveHllEstimate(spark, root + "/hll", Seq("grp")).count()
      Sketches.serveTopK(spark, root + "/topk", Nil, "grp").count()
      (System.nanoTime() - t0) / 1e9
    }
    // the BPE vocab pins once, before the soak (build decision)
    graft.ops.BpeIndex.build(
      Seq((999L, words.mkString(" "))).toDF("_id", "text"), "text",
      root + "/bpe", nMerges = 8)
    var serveMid = 0.0
    var serveEnd = 0.0
    var bpeFreshTotal = 0L
    (1 to 25).foreach { d =>
      // each drop: 3 rotating updates + 1 new doc — sustained churn
      val rows = (0 until 3).map { j =>
        val id = (d + j * 5) % 20
        (id.toLong, text(id, d), (id % 3).toLong)
      } :+ (((100 + d).toLong, text(100 + d, 0), (d % 3).toLong))
      val r = DropCycle.run(lake, withUrl(docs(rows: _*)), conf)
      bpeFreshTotal += r("bpe")._2
      if (d % 5 == 0) { // the compaction cadence: every 5th drop
        MaterializedAgg.compact(spark, root + "/summary", spec, s"fold$d")
        Sketches.compactHll(spark, root + "/hll", Seq("grp"), s"fold$d")
        Sketches.compactTopK(spark, root + "/topk", Nil, "grp", 8, s"fold$d")
        graft.ops.Relevance.compactLm(spark, root + "/lm", s"fold$d")
        graft.ops.Curation.compactDsir(spark, root + "/dsir", s"fold$d")
        graft.ops.Curation.compactDomainTokens(spark, root + "/domains", s"fold$d")
        lake.compact()
        lake.vacuum(retainVersions = 2)
      }
      if (d == 5) serveMid = serveAll()
      if (d == 25) serveEnd = serveAll()
    }
    // BOUNDED ARTIFACTS: at most the folded segment + one cadence window
    for (tier <- Seq("/summary", "/hll", "/topk", "/lm", "/dsir", "/domains"))
      assert(segCount(root + tier) <= 6,
        s"$tier grew to ${segCount(root + tier)} segments despite the cadence")
    // BPE cache: the soak's whole vocabulary is the 8 seed words — 25
    // drops of churn tokenized NOTHING new, and the cache stays
    // vocabulary-sized (O(new words), never O(drops) or O(corpus))
    assert(bpeFreshTotal == 0L, s"soak must never re-tokenize: $bpeFreshTotal")
    assert(spark.read.parquet(root + "/bpe/word_tokens").count() == 8L)
    // domain totals survive 25 drops + 5 folds == from-scratch recompute
    val servedDomSoak = graft.ops.Curation.serveDomainTokens(spark, root + "/domains")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val scratchDomSoak = lake.read.select(
        graft.ops.Curation.registrableDomain(
          regexp_extract(col("url"), "^https?://([^/]+)", 1)).as("domain"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("domain").agg(sum(col("n")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(servedDomSoak == scratchDomSoak && servedDomSoak.nonEmpty,
      s"domain totals diverged after the soak: $servedDomSoak vs $scratchDomSoak")
    // lake: vacuum bounds retained versions, compact bounds file count
    assert(lake.history().count() <= 4L,
      s"versions unbounded: ${lake.history().collect().map(_.getLong(0)).toSeq}")
    val files = lake.readManifest(lake.latestVersion.get).get.files.size
    assert(files <= 8, s"live file count unbounded after compaction: $files")
    // bloom sidecar sheds vacuumed versions' rows on the next refresh
    graft.lake.BloomIndex.refreshSnapshot(lake, "_id")
    val idxRows = spark.read.parquet(root + "/lake/_bloomidx").count()
    assert(idxRows <= 32L, s"bloom index rows unbounded: $idxRows")

    // SERVED TRUTH unchanged by 5 fold cycles: summary == one-shot,
    // LM == from-scratch retrain, HLL within tolerance of exact
    val served = MaterializedAgg.serve(spark, root + "/summary", spec)
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = lake.read.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(length(col("text")).cast("long")).as("chars"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served == oneShot)
    val servedLm = graft.ops.Relevance.serveLmCounts(spark, root + "/lm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val scratchLm = graft.ops.Relevance.bigramCountSegment(lake.read, "_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(servedLm == scratchLm && servedLm.nonEmpty)
    // the DSIR model survives 25 drops + 5 folds == from-scratch counts
    val servedDsirSoak = graft.ops.Curation.serveDsirCounts(spark, root + "/dsir")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratchDsirSoak = graft.ops.Curation.dsirCountSegment(
        lake.read, "_id", "text", col("grp") === 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(servedDsirSoak == scratchDsirSoak && servedDsirSoak.nonEmpty)
    val exactDistinct = lake.read.groupBy("grp").agg(countDistinct(col("_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Sketches.serveHllEstimate(spark, root + "/hll", Seq("grp")).collect().foreach { r =>
      val (g, est) = (r.getLong(0), r.getLong(1))
      assert(math.abs(est - exactDistinct(g)).toDouble <= 0.1 * exactDistinct(g) + 2,
        s"grp $g HLL estimate $est vs exact ${exactDistinct(g)}")
    }
    // SERVE LATENCY FLAT: 20 further drops must not grow the serve cost
    // (segment counts are the mechanism; this is the observable). Bound
    // is deliberately loose — it catches unbounded growth, not jitter.
    info(f"serve at drop 5: $serveMid%.2f s, at drop 25: $serveEnd%.2f s")
    assert(serveEnd <= 5.0 * math.max(serveMid, 0.2),
      f"serve latency grew $serveMid%.2f s -> $serveEnd%.2f s across the soak")
  }

  test("cli drop runs a cycle end-to-end") {
    val root = Files.createTempDirectory("dropcli").toString
    docs((1L, "alpha beta gamma", 0L), (2L, "delta epsilon zeta", 1L))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(root + "/in1")
    docs((2L, "delta epsilon eta", 1L), (3L, "theta iota kappa", 0L))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(root + "/in2")
    Seq("/in1", "/in2").zipWithIndex.foreach { case (in, i) =>
      graft.cli.Main.run(spark, "drop", Array(
        "--lake", root + "/lake", "--in", root + in, "--text-col", "text",
        "--dims", "grp", "--sums", "chars=n_chars", "--summary-path", root + "/sum",
        "--hll-path", root + "/hll",
        "--topk-path", root + "/topk", "--topk-key", "grp", "--topk-k", "8",
        "--lm-path", root + "/lm",
        "--quantile-path", root + "/qs", "--quantile-value", "n_chars",
        // the shared dq flag surface rides the runbook command: a
        // too-short range on n_chars quarantines nothing here (all rows
        // clean) but exercises the flag parse + pair guard end-to-end
        "--range", "n_chars:1:100", "--quarantine-path", root + "/quar",
        "--drop-id", s"cli$i"))
    }
    val lake = new SnapshotLake(spark, root + "/lake", "_id")
    assert(lake.latestVersion.contains(2L))
    // rules without a path must fail LOUDLY, not silently skip the split
    val loud = intercept[RuntimeException] {
      graft.cli.Main.run(spark, "drop", Array(
        "--lake", root + "/lake", "--in", root + "/in1", "--range", "n_chars:1:100"))
    }
    assert(loud.getMessage.contains("--quarantine-path"))
    // quantile tier landed one segment per drop; with k >= arrived rows
    // the summary is exact: the served median of the ARRIVED row stream
    // (grp-dim from --dims) equals a direct recompute over those rows
    val qSegs = new java.io.File(root + "/qs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("seg="))
    assert(qSegs == 2, s"one quantile segment per drop, got $qSegs")
    val qServe = Sketches.serveQuantile(spark, root + "/qs", Seq("grp"), 1, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // arrived rows: drop1's 2 + drop2's update of id 2 + insert of id 3
    val arrived = Seq((0L, 16L), (1L, 18L), (1L, 17L), (0L, 16L)) // (grp, n_chars)
    val expect = arrived.groupBy(_._1).view.mapValues { vs =>
      val s = vs.map(_._2).sorted; s((s.size - 1) / 2)
    }.toMap
    assert(qServe == expect, s"quantile serve $qServe != exact $expect")
    // new tiers landed through the CLI flags and converge like the direct API
    val topkCli = Sketches.serveTopK(spark, root + "/topk", Nil, "grp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(topkCli.values.sum == 4L, s"4 inserted/updated rows counted, got $topkCli")
    val lmCli = graft.ops.Relevance.serveLmCounts(spark, root + "/lm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val lmScratch = graft.ops.Relevance.bigramCountSegment(lake.read, "_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(lmCli == lmScratch && lmCli.nonEmpty)
    val spec = MaterializedAgg.Spec(Seq("grp"), sums = Seq("chars" -> col("n_chars")))
    val served = MaterializedAgg.serve(spark, root + "/sum", spec)
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = lake.read.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served == oneShot)
  }

  test("cli: a versionable --rules file drives dq and the drop quarantine; flags still compose") {
    val root = Files.createTempDirectory("dqrules").toString
    // the 20-rule production contract lives in a FILE, not a shell line
    val rulesJson =
      """[{"rule":"not_null","col":"text"},
        |{"rule":"range","col":"n_chars","lo":1,"hi":100},
        |{"rule":"matches","col":"text","regex":"[a-z ]+"},
        |{"rule":"satisfies","name":"grp_nonneg","sql":"grp >= 0"},
        |{"rule":"unique","col":"_id"}]""".stripMargin
    val rulesPath = root + "/contract.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(rulesPath),
      rulesJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    docs((1L, "alpha beta", 0L), (2L, "gamma delta", 1L))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(root + "/in")
    // dq gate over a clean input passes with the file contract (incl. the
    // unique dataset rule); a dirty input fails naming the file's rule
    graft.cli.Main.run(spark, "dq", Array(
      "--in", root + "/in", "--rules", rulesPath, "--gate"))
    docs((3L, "UPPER", 0L), (3L, "lower", -1L))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(root + "/dirty")
    val ex = intercept[IllegalStateException] {
      graft.cli.Main.run(spark, "dq", Array(
        "--in", root + "/dirty", "--rules", rulesPath, "--gate"))
    }
    assert(ex.getMessage.contains("matches(text)") &&
      ex.getMessage.contains("check(grp_nonneg)") &&
      ex.getMessage.contains("unique(_id)"), ex.getMessage)
    // drop: row-local file rules quarantine; the dataset 'unique' rule is
    // rejected loudly (a row-local split cannot enforce it)
    val uq = intercept[RuntimeException] {
      graft.cli.Main.run(spark, "drop", Array(
        "--lake", root + "/lake", "--in", root + "/dirty",
        "--rules", rulesPath, "--quarantine-path", root + "/quar",
        "--drop-id", "d1"))
    }
    assert(uq.getMessage.contains("unique"), uq.getMessage)
    val rowLocal = rulesPath + ".rowlocal"
    java.nio.file.Files.write(java.nio.file.Paths.get(rowLocal),
      """[{"rule":"not_null","col":"text"},
        |{"rule":"range","col":"n_chars","lo":1,"hi":100},
        |{"rule":"matches","col":"text","regex":"[a-z ]+"},
        |{"rule":"satisfies","name":"grp_nonneg","sql":"grp >= 0"}]""".stripMargin
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.cli.Main.run(spark, "drop", Array(
      "--lake", root + "/lake", "--in", root + "/dirty",
      "--rules", rowLocal, "--quarantine-path", root + "/quar",
      "--drop-id", "d1"))
    val quar = spark.read.parquet(root + "/quar").collect()
    assert(quar.length == 2, s"both dirty rows quarantined: ${quar.length}")
    val lake = new SnapshotLake(spark, root + "/lake", "_id")
    assert(lake.read.count() == 0, "no clean rows in this drop")
    // an unknown rule type in the contract fails loudly
    val badPath = root + "/bad.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(badPath),
      """[{"rule":"frobnicate","col":"x"}]""".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    val unk = intercept[RuntimeException] {
      graft.cli.Main.run(spark, "dq", Array("--in", root + "/in", "--rules", badPath))
    }
    assert(unk.getMessage.contains("frobnicate"), unk.getMessage)
  }

  test("cli drop --emb-in maintains the embeddings-side IVF index at churn cost") {
    import spark.implicits._
    val root = Files.createTempDirectory("dropemb").toString
    def embs(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding")
    // pinned codebook from the initial corpus
    val base = embs((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f)))
    graft.ops.SimilarityIndex.build(base, "vec_id", "embedding", root + "/ivf", nList = 2)
    // a text drop that also ships one changed + one new embedding;
    // vectors 1 and 3 are not in the batch and must carry untouched
    docs((10L, "alpha beta", 0L)).withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(root + "/in")
    embs((2L, Seq(0.5f, 0.5f)), (4L, Seq(0f, -1f))).write.parquet(root + "/embin")
    graft.cli.Main.run(spark, "drop", Array(
      "--lake", root + "/lake", "--in", root + "/in",
      "--emb-in", root + "/embin", "--emb-index-path", root + "/ivf"))
    // the landed index now answers for all 4 vectors, matching the
    // recompute under the same pinned codebook
    val allVecs = embs((1L, Seq(1f, 0f)), (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(-1f, 0f)), (4L, Seq(0f, -1f)))
    val probe = embs((100L, Seq(1f, 1f)))
    val viaIdx = graft.ops.SimilarityIndex.topKInt8(allVecs, probe,
        "vec_id", "embedding", root + "/ivf", k = 2, nProbe = 2)
      .select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIdx.nonEmpty && viaIdx.exists(_._2 == 2L),
      s"updated vector 2 must be servable from the refreshed index: $viaIdx")
  }

  test("cli drop --pca-path lands the drop's moment segment with retraction") {
    import spark.implicits._
    val root = Files.createTempDirectory("droppca").toString
    def embs(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
    val base = embs((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f)))
    graft.ops.SimilarityIndex.build(base, "vec_id", "embedding", root + "/ivf", nList = 2)
    graft.ops.PcaIndex.landDrop(base, "embedding", 2, root + "/pca", "d0")
    docs((10L, "alpha beta", 0L)).withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(root + "/in")
    // vector 2 is RE-embedded: its old value rides --pca-retract-in
    embs((2L, Seq(0.5f, 0.5f)), (4L, Seq(0f, -1f))).write.parquet(root + "/embin")
    embs((2L, Seq(0f, 1f))).write.parquet(root + "/embold")
    // half the pca pair is a loud error
    val e = intercept[RuntimeException] {
      graft.cli.Main.run(spark, "drop", Array(
        "--lake", root + "/lake0", "--in", root + "/in",
        "--emb-in", root + "/embin", "--emb-index-path", root + "/ivf",
        "--pca-path", root + "/pca"))
    }
    assert(e.getMessage.contains("--pca-drop-id"))
    graft.cli.Main.run(spark, "drop", Array(
      "--lake", root + "/lake", "--in", root + "/in",
      "--emb-in", root + "/embin", "--emb-index-path", root + "/ivf",
      "--pca-path", root + "/pca", "--pca-dim", "2", "--pca-drop-id", "d1",
      "--pca-retract-in", root + "/embold"))
    // merged moments equal a one-pass recompute over the CURRENT vectors
    val current = embs((1L, Seq(1f, 0f)), (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(-1f, 0f)), (4L, Seq(0f, -1f)))
    val served = graft.ops.PcaIndex.serveMoments(spark, root + "/pca").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (BigDecimal(r.getDecimal(2)), r.getLong(3))).toMap
    val direct = graft.ops.Pca.moments(current, "embedding", 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (BigDecimal(r.getDecimal(2)), r.getLong(3))).toMap
    assert(served.keySet == direct.keySet)
    served.foreach { case (k, (s, n)) =>
      assert(s.compare(direct(k)._1) == 0 && n == direct(k)._2, s"moment $k drifted")
    }
  }
}
