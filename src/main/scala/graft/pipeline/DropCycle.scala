package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Overlap
import graft.lake.{BloomIndex, MaterializedAgg, SnapshotLake}
import graft.ops.{DedupIndex, Sketches}

/** The monthly-drop runbook as ONE entry point — the reference's actual
  * operating cadence (read_parquet.py:85-123 re-ingests a drop, then
  * separate scripts recompute summaries and audits corpus-wide). Here a
  * drop lands through every maintained artifact in churn-proportional
  * steps:
  *
  *  1. snapshot lake CoW upsert — one version, only key-bearing files
  *     rewritten;
  *  2. bloom point-lookup sidecar — [[BloomIndex.refreshSnapshot]],
  *     file list from manifests, immutable files never re-bloom;
  *  3. MinHash band index — [[DedupIndex.upsert]], batch-scoped delta
  *     (unchanged re-delivered docs carry verbatim); optionally the
  *     per-doc text-stats sidecar ([[graft.ops.TextIndex.upsert]]) and
  *     the BM25 posting-list index ([[graft.ops.PostingsIndex.upsert]])
  *     ride the same fingerprint-gated delta;
  *  4. summary — [[MaterializedAgg.landChangesDrop]] over the version
  *     interval's change feed with pre-images (-pre +post retraction);
  *     the FIRST cycle lands a full-drop segment instead (nothing to
  *     diff against);
  *  5. distinct sketch — [[Sketches.landHllDrop]] of the drop (HLL
  *     re-insertion of unchanged keys is a union no-op, so per-drop
  *     sketches stay correct under upserts; deletes are not retractable
  *     from HLL — rebuild the sketch path when rows are purged);
  *  6. frequent-items segments — [[Sketches.landTopKDrop]] over the
  *     interval's inserted/updated rows (event-stream counting);
  *  7. bigram-LM counts — [[graft.ops.Relevance.landLmChangesDrop]]
  *     with pre-image retraction, so the merged model always equals a
  *     from-scratch retrain over the current corpus.
  *
  * Steps 2–7 run CONCURRENTLY once the commit of step 1 is done (the
  * dq split and the commit stay serial in front): each reads only the
  * committed version interval or the drop and writes its own path —
  * `run` requires the enabled tiers' paths to be pairwise disjoint — so
  * the overlap moves the wall clock and never a result bit. A failing
  * step is raised only after every other step has finished, with the
  * other failures attached as suppressed.
  *
  * Every step's cost follows the DROP, never the corpus; each step is
  * idempotent per drop id (segment replace / fingerprint carry), so a
  * crashed cycle re-runs safely. Returns per-tier (carried, refreshed)
  * counts — the observable proof that maintenance scaled with churn.
  */
object DropCycle {

  final case class Config(
    // step 0: data-quality dead-letter split (rules, quarantinePath,
    // dropId) — dirty rows of the DROP land under
    // `quarantinePath/seg=<dropId>` with their violated-rule list and
    // never reach anything downstream; the cycle proceeds on the clean
    // rows instead of wedging. The seg landing is a staged-swap REPLACE
    // (the MaterializedAgg layout), so a crashed cycle re-run with the
    // same dropId replaces its dead letters instead of duplicating them
    expect: Option[(Seq[graft.ops.Expectations.Rule], String, String)] = None,
    textCol: Option[String] = None,       // steps 3 + 3b + 6 run when set
    bandIdxPath: Option[String] = None,   // default: <lake>.bandidx
    textStatsPath: Option[String] = None, // step 3b: per-doc stats sidecar
    postingsPath: Option[String] = None,  // step 3c: BM25 posting-list index
    bloom: Boolean = true,
    summary: Option[(MaterializedAgg.Spec, String)] = None,
    hll: Option[(Seq[String], String, String)] = None, // (dims, key, path)
    topk: Option[(Seq[String], String, Int, String)] = None, // (dims, key, k, path)
    lmPath: Option[String] = None,        // step 6: bigram-LM count segments
    // step 6b: DSIR bucket-count segments (targetPred, path) — the
    // data-selection model maintained at change-feed cost with signed
    // retraction, like the LM tier
    dsir: Option[(org.apache.spark.sql.Column, String)] = None,
    // step 7: ε-rank quantile summaries (dims, value col, k, path).
    // Event-stream semantics like the top-k tier: segments summarize the
    // interval's inserted/updated rows — deletes/pre-images don't
    // retract (a summary point is not a signed count); rebuild the path
    // for current-state quantiles after purges.
    quantile: Option[(Seq[String], String, Int, String)] = None,
    // step 3d: persisted near-dup cluster labels
    // ([[graft.ops.ClusterIndex]]). Needs textCol. The lake's string
    // keys map through the ntp-id codec (labels live in long id space);
    // the refresh runs against the lake's CURRENT corpus but is
    // internally fingerprint-gated — one digest-sized pass, label
    // recompute only where components changed.
    clusterIdxPath: Option[String] = None,
    // step 3e: learned-BPE word cache ([[graft.ops.BpeIndex]]). Needs
    // textCol and an EXISTING index (merges pinned at build — a cache
    // refresh never retrains). Only the drop's previously-unseen words
    // tokenize; the cache only grows, a lagging cache costs compute,
    // never a wrong count.
    bpePath: Option[String] = None,
    // step 6c: per-registrable-domain token totals (urlCol, path) — the
    // domain-budget curation axis as a signed summable segment table
    // riding the same pre-image change feed as the LM/DSIR tiers
    domainTokens: Option[(String, String)] = None,
    // step 3f: persisted trained-classifier scores
    // ([[graft.ops.ClfIndex]]). Needs textCol and an EXISTING index —
    // the model pins at build (a labeled-slice change is an explicit
    // ClfIndex.refresh/build decision, never a drop side effect); the
    // drop's changed docs re-score under the pinned broadcast model,
    // re-delivered unchanged docs carry verbatim.
    clfScoresPath: Option[String] = None)

  /** Run one cycle; returns tier -> (carried, refreshed). */
  def run(lake: SnapshotLake, dropIn: DataFrame, conf: Config): Map[String, (Long, Long)] = {
    val spark = dropIn.sparkSession
    val tiers = steps(lake, conf)
    requireDisjoint(spark, tiers)
    val (drop, dqReport) = conf.expect match {
      case Some((rules, qpath, dropId)) =>
        require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
          s"quarantine drop id must be [A-Za-z0-9_-]+: '$dropId'")
        // ONE materialization of the annotated frame: clean, dirty, and
        // both counts all derive from it, so a nondeterministic source
        // (re-read table, sampled input) cannot quarantine a row AND
        // land it — or neither — between independent actions
        val ann = graft.ops.Expectations.annotate(dropIn, rules)
          .localCheckpoint(true)
        import org.apache.spark.sql.functions.size
        val dirty = ann.filter(size(col("violated")) > 0)
        val clean = ann.filter(size(col("violated")) === 0).drop("violated")
        val nDirty = dirty.count()
        // idempotent per drop id: a cycle re-run REPLACES its seg — and a
        // re-run whose (fixed) input is now CLEAN must delete the stale
        // seg, or the previous run's dead letters keep indicting a drop
        // that no longer has any
        val segPath = new org.apache.hadoop.fs.Path(s"$qpath/seg=$dropId")
        if (nDirty > 0)
          graft.lake.Staged.land(spark, segPath.toString, dirty)
        else segPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(segPath, true)
        // the CLEAN slice feeds every downstream tier of this cycle
        (clean, Some((clean.count(), nDirty)))
      case None => (dropIn, None)
    }
    val before = lake.latestVersion
    lake.upsert(drop)
    val committed = Committed(lake, drop, before, lake.latestVersion.get)
    runSteps(tiers, committed) ++ dqReport.map("dq" -> _) +
      ("lake" -> ((before.getOrElse(0L), committed.after)))
  }

  /** What every post-commit step reads: the (clean) drop and the
    * committed version interval `before` -> `after` of the lake.
    */
  private final case class Committed(lake: SnapshotLake, drop: DataFrame,
                                     before: Option[Long], after: Long) {
    /** Rows that ARRIVED in the interval (insert/update_post), or the
      * whole first version.
      */
    def arriving: DataFrame = before match {
      case Some(v0) => lake.changesBetween(v0, after)
          .filter(col("change_type").isin("insert", "update_post"))
      case None => lake.readAt(after)
    }

    /** A signed-segment tier: `changes` over the interval's pre-image
      * change feed, or `full` over the first version, with the
      * interval's segment id.
      */
    def retractable(full: (DataFrame, String) => Long,
                    changes: (DataFrame, String) => Long): Long = before match {
      case Some(v0) =>
        changes(lake.changesBetween(v0, after, preImages = true), s"v${v0}to$after")
      case None => full(lake.readAt(after), s"v0to$after")
    }
  }

  /** One tier of a cycle: its report name, the one path it writes, and
    * its body over the cycle's input.
    */
  private final case class Step[A](tier: String, path: String, body: A => (Long, Long))

  /** The enabled post-commit tiers of `conf`, in report order. */
  private def steps(lake: SnapshotLake, conf: Config): Seq[Step[Committed]] = {
    val key = lake.keyCol
    def step(tier: String, path: String)(body: Committed => (Long, Long)) = Step(tier, path, body)
    def seg(tier: String, path: String)(n: Committed => Long) = step(tier, path)(c => (0L, n(c)))
    val textTiers = conf.textCol.toSeq.flatMap { text =>
      val bandIdx = conf.bandIdxPath.getOrElse(lake.path + ".bandidx")
      Seq(step("band", bandIdx)(c => DedupIndex.upsert(c.drop, key, text, bandIdx))) ++
        conf.textStatsPath.map(p => step("textstats", p)(
          c => graft.ops.TextIndex.upsert(c.drop, key, text, p))) ++
        conf.postingsPath.map(p => step("postings", p)(
          c => graft.ops.PostingsIndex.upsert(c.drop, key, text, p))) ++
        conf.bpePath.map(p => step("bpe", p)(c => graft.ops.BpeIndex.refresh(c.drop, text, p))) ++
        conf.clfScoresPath.map(p => step("clf", p)(
          c => graft.ops.ClfIndex.upsert(c.drop, key, text, p))) ++
        conf.clusterIdxPath.map(p => step("cluster", p)(c => {
          import org.apache.spark.sql.functions.{coalesce, expr, when, xxhash64}
          // integral surrogate for the components fixpoint: exact for ntp
          // and numeric keys; other key shapes fall back to xxhash64
          // (deterministic; keep ONE key shape per lake — mixed shapes
          // could alias surrogate ids)
          val k = col(key)
          val docId = coalesce(
            when(graft.core.NtpIds.checkNtpId(k), graft.core.NtpIds.parseNtpId(k)),
            expr(s"try_cast($key AS BIGINT)"),
            xxhash64(k))
          val corpus = lake.readAt(c.after).select(docId.as("__doc_long"), col(text))
          graft.ops.ClusterIndex.refresh(corpus, "__doc_long", text, p)
        })) ++
        // bigram-LM counts retract through the pre-image change feed — the
        // merged model always equals a from-scratch retrain over the
        // current corpus, at change-feed cost
        conf.lmPath.map(p => seg("lm", p)(_.retractable(
          graft.ops.Relevance.landLmDrop(_, key, text, p, _),
          graft.ops.Relevance.landLmChangesDrop(_, key, text, p, _)))) ++
        // per-domain token totals ride the same pre-image feed (a signed
        // summable table like the LM's) — the domain-budget cut list is
        // then a serve-time read of the merged totals
        conf.domainTokens.map { case (url, p) => seg("domains", p)(_.retractable(
          graft.ops.Curation.landDomainTokenDrop(_, text, url, p, _),
          graft.ops.Curation.landDomainTokenChangesDrop(_, text, url, p, _))) } ++
        // DSIR bucket counts ride the same pre-image feed (the data-selection
        // model is a summable count table exactly like the LM's)
        conf.dsir.map { case (pred, p) => seg("dsir", p)(_.retractable(
          graft.ops.Curation.landDsirDrop(_, key, text, pred, p, _),
          graft.ops.Curation.landDsirChangesDrop(_, key, text, pred, p, _))) }
    }
    Option.when(conf.bloom)(step("bloom", BloomIndex.snapSidecar(lake.path))(
        _ => BloomIndex.refreshSnapshot(lake, key))).toSeq ++
      textTiers ++ Seq(
        conf.summary.map { case (spec, p) => seg("summary", p)(_.retractable(
          MaterializedAgg.landDrop(_, spec, p, _),
          MaterializedAgg.landChangesDrop(_, spec, p, _))) },
        conf.hll.map { case (dims, k, p) => seg("hll", p)(c =>
          Sketches.landHllDrop(c.drop, dims, k, p, s"v${c.after}")) },
        // top-k frequency segments are ADDITIVE row counts (unlike HLL's
        // idempotent insertion), so they land from the version interval's
        // change feed: counting only insert/update_post rows keeps
        // re-delivered unchanged rows out (the CoW carries them, the feed
        // cancels them). Frequency-sketch semantics: the tier counts the
        // EVENT STREAM of arriving rows — deletes don't retract (the bound
        // invariant is over what was counted; rebuild the path for
        // current-state frequencies after purges)
        conf.topk.map { case (dims, k, n, p) => seg("topk", p)(c =>
          Sketches.landTopKDrop(c.arriving, dims, k, n, p, s"v${c.after}")) },
        // quantile summaries ride the same interval feed as top-k: the
        // distribution of ARRIVING rows, per-drop segments merged at
        // serve; see Config.quantile for the non-retractability note
        conf.quantile.map { case (dims, v, k, p) => seg("quantile", p)(c =>
          Sketches.landQuantileDrop(c.arriving, dims, col(v), k, p, s"v${c.after}")) }
      ).flatten
  }

  /** Steps run concurrently, so no two may write the same tree: every
    * enabled tier's path must be neither equal to nor nested in another's.
    */
  private def requireDisjoint(spark: SparkSession, steps: Seq[Step[_]]): Unit = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val roots = steps.map { s =>
      val p = new org.apache.hadoop.fs.Path(s.path)
      s.tier -> (p.getFileSystem(hadoop).makeQualified(p).toString.stripSuffix("/") + "/")
    }
    val clashes = roots.combinations(2).collect {
      case Seq((t1, a), (t2, b)) if a.startsWith(b) || b.startsWith(a) => s"$t1 ($a) and $t2 ($b)"
    }.toSeq
    require(clashes.isEmpty,
      s"concurrent drop tiers must write disjoint paths: ${clashes.mkString("; ")}")
  }

  /** Run every step at once on `in` and wait for all of them (a failure
    * is raised only after every step has ended); tier -> its counts.
    */
  private def runSteps[A](steps: Seq[Step[A]], in: A): Map[String, (Long, Long)] =
    steps.map(_.tier).zip(Overlap.all(steps.map(s => () => s.body(in)))).toMap

  /** The embeddings-side twin of [[run]]: maintain the persisted IVF-SQ8
    * index for a drop of (re)embedded documents. Thin by design — the
    * churn gating (vector fingerprints: unchanged vectors carry
    * verbatim, only new/changed ones are quantized and assigned) lives
    * in [[graft.ops.SimilarityIndex.upsert]]; this is the runbook seam
    * that puts embedding drops on the same per-drop cadence and
    * (carried, refreshed) reporting as the text tiers. Requires the
    * index to exist (codebook pinned at [[graft.ops.SimilarityIndex
    * .build]] — refresh NEVER retrains, so assignments stay comparable
    * across drops). Its tiers run concurrently on disjoint paths, like
    * [[run]]'s post-commit steps.
    */
  def runEmbeddings(embBatch: DataFrame, idCol: String, vecCol: String,
                    indexPath: String,
                    // (path, dim, dropId): also land this drop's PCA moment
                    // segment ([[graft.ops.PcaIndex]]) so the eigenbasis
                    // refreshes at O(drop) cost. The moments tier sums VECTOR
                    // contributions: for a RE-embedding drop, pass the old
                    // vectors as `pcaRetract` (landed as a sign=-1 segment,
                    // id `<dropId>-retract`) or the re-embedded docs double-
                    // count; append-only drops need no retraction.
                    pca: Option[(String, Int, String)] = None,
                    pcaRetract: Option[DataFrame] = None,
                    // the 8-byte serving tier: also delta-upsert the
                    // persisted IVF-PQ lists ([[graft.ops.PqIndex.upsert]])
                    // under their build-pinned codebooks + residual
                    // reference — same fingerprint gating as the SQ8 index,
                    // so both serving tiers stay on one drop cadence
                    pqIndexPath: Option[String] = None,
                    // ...and the factorized IMI-PQ lists
                    // ([[graft.ops.ImiPqIndex.upsert]]) — all three
                    // serving tiers stay on one drop cadence
                    imiPqIndexPath: Option[String] = None): Map[String, (Long, Long)] = {
    val tiers = embeddingSteps(indexPath, pca, pqIndexPath, imiPqIndexPath)
    requireDisjoint(embBatch.sparkSession, tiers)
    runSteps(tiers, Embeddings(embBatch, idCol, vecCol, pcaRetract))
  }

  /** Fails unless [[runEmbeddings]]' tiers for these paths write
    * pairwise disjoint trees, without running any of them: a caller that
    * commits a drop first (the CLI's `drop`) checks them before it.
    */
  def requireEmbeddingPaths(spark: SparkSession, indexPath: String,
                            pca: Option[(String, Int, String)] = None,
                            pqIndexPath: Option[String] = None,
                            imiPqIndexPath: Option[String] = None): Unit =
    requireDisjoint(spark, embeddingSteps(indexPath, pca, pqIndexPath, imiPqIndexPath))

  /** An embeddings drop: the batch, its columns, and the old vectors to retract. */
  private final case class Embeddings(batch: DataFrame, idCol: String, vecCol: String,
                                      pcaRetract: Option[DataFrame])

  /** The enabled embeddings tiers, in report order. */
  private def embeddingSteps(indexPath: String, pca: Option[(String, Int, String)],
                             pqIndexPath: Option[String],
                             imiPqIndexPath: Option[String]): Seq[Step[Embeddings]] =
    Seq(
      Some(Step[Embeddings]("simidx", indexPath,
        e => graft.ops.SimilarityIndex.upsert(e.batch, e.idCol, e.vecCol, indexPath))),
      pqIndexPath.map(p => Step[Embeddings]("pqidx", p,
        e => graft.ops.PqIndex.upsert(e.batch, e.idCol, e.vecCol, p))),
      imiPqIndexPath.map(p => Step[Embeddings]("imipqidx", p,
        e => graft.ops.ImiPqIndex.upsert(e.batch, e.idCol, e.vecCol, p))),
      pca.map { case (path, dim, dropId) => Step[Embeddings]("pca", path, e => {
        val n = graft.ops.PcaIndex.landDrop(e.batch, e.vecCol, dim, path, dropId)
        val r = e.pcaRetract.map(old =>
          graft.ops.PcaIndex.landDrop(old, e.vecCol, dim, path, s"$dropId-retract", sign = -1))
          .getOrElse(0L)
        (r, n)
      }) }).flatten
}
