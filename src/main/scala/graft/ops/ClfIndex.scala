package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.ChurnSplit

/** Persisted trained-quality-classifier scores — the
  * [[QualityClassifier]] as a churn-maintained lake artifact (the
  * [[PqIndex]]/[[TextIndex]] posture applied to the CCNet-style gate):
  * trained once against a LABELED slice, scored corpus-wide once, then
  * refreshed at the cost of the churn. Without this tier the trained
  * gate is the only expensive artifact that retrains from scratch per
  * call — at 100 TB "rescore the corpus because one drop landed" is
  * exactly the O(corpus)-per-drop failure mode the index family exists
  * to kill.
  *
  * Layout at `path` (all staged-swap, never torn):
  *  - `path/model` — the trained (b, w) weight rows, nBuckets-bounded,
  *    PINNED at build: scores written under one model must stay
  *    comparable across drops, so refresh NEVER retrains implicitly;
  *  - `path/meta` — (nbuckets, train_n, train_xor, train_sum): the
  *    bucket count and an order-independent fingerprint of the labeled
  *    slice the model was trained on;
  *  - `path/scores` — ONE row per corpus doc: (doc, fp, n_fbuckets,
  *    clf_logit, clf_prob) with fp = md5(text), the churn fingerprint.
  *    Evidence-free docs (< 2 tokens) land with n_fbuckets = 0 and
  *    NULL logit/prob — a row, not an absence, so refresh carries them
  *    verbatim instead of fruitlessly re-tokenizing them every drop,
  *    and downstream gates still see them (and drop them, since NULL
  *    clears no threshold).
  *
  * The retrain decision is the one piece no other index needs: scores
  * depend on (doc text, model) and the model depends on the labeled
  * slice, so
  *  - labeled slice UNCHANGED → model pinned, scores churn-split on
  *    the text fingerprint, only new/changed docs re-score (per-doc
  *    scoring is corpus-independent: one broadcast of the model + one
  *    doc-keyed aggregate over the batch);
  *  - labeled slice CHANGED → the model itself is stale; [[refresh]]
  *    retrains and rescores everything (reported as kept = 0). The
  *    decision is a digest compare, never a silent drift.
  *
  * Scale shape: the driver holds only the nBuckets-bounded model
  * ([[Similarity.collectBounded]], hard cap 65536); every join against
  * it broadcasts; the churn seam ([[graft.lake.ChurnSplit]]) shuffles
  * digests, not text.
  */
object ClfIndex {

  private def modelPath(path: String) = path + "/model"
  private def metaPath(path: String) = path + "/meta"
  private def scoresPath(path: String) = path + "/scores"

  /** Order-independent digest of the labeled slice: (row count,
    * xor of per-row hashes, sum of per-row hashes mod 2^32). The
    * per-row hash covers (id, md5(text), label) — any add/drop/edit or
    * label flip moves at least one component; xor alone would miss a
    * row duplicated an even number of times, the bounded sum catches
    * it (and can never overflow: 2^31 rows × 2^32 < 2^63).
    */
  private[ops] def trainFingerprint(labeled: DataFrame, idCol: String,
                                    textCol: String, labelPred: Column): (Long, Long, Long) = {
    val y = when(coalesce(labelPred, lit(false)), 1L).otherwise(0L)
    val r = labeled
      .select(xxhash64(col(idCol), md5(col(textCol)), y).as("__h"))
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(__h)"), lit(0L)).as("x"),
        coalesce(sum(pmod(col("__h"), lit(4294967296L))), lit(0L)).as("s"))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One score row per corpus doc under the pinned model — the landed
    * shape (see the layout scaladoc). Per-doc output depends only on
    * the doc's own buckets and the model, so scoring a churn slice
    * alone lands byte-identical rows to scoring it inside the full
    * corpus (the property the churn carry relies on).
    */
  private def scoreRows(corpus: DataFrame, idCol: String, textCol: String,
                        model: Map[Long, Long], nBuckets: Int): DataFrame = {
    // ONE pass (optimization round 19, guide §2.3/§2.4): the previous
    // form scanned+tokenized the corpus twice and shuffle-joined the
    // two corpus-sized halves back together on `doc` just to re-attach
    // `fp` and keep the evidence-free docs. Here fp rides the feature
    // rows from the start and explode_outer keeps the (< 2 tokens) docs
    // as a single null-bucket row — one scan, one tokenize, one
    // broadcast join, one doc-keyed aggregate, zero corpus-vs-corpus
    // shuffle join. Values are byte-identical to the join form: per-doc
    // scores depend only on the doc's own buckets and the broadcast
    // model (QualityClassifier.score semantics, same bucketArray), and
    // evidence-free docs land (n_fbuckets = 0, NULL logit/prob) exactly
    // as the left join produced. NB hardSigmoid must NOT see a null
    // logit — Spark's least/greatest SKIP nulls rather than propagate
    // them — hence the explicit n_fbuckets > 0 guard on both columns.
    QualityClassifier.requireBuckets(nBuckets)
    val spark = corpus.sparkSession
    import spark.implicits._
    val wdf =
      if (model.isEmpty) Seq.empty[(Long, Long)].toDF("__b", "__w")
      else model.toSeq.toDF("__b", "__w")
    import QualityClassifier.{fdiv, hardSigmoid}
    corpus
      .select(col(idCol).as("doc"), md5(col(textCol)).as("fp"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc"), col("fp"),
        explode_outer(when(size(col("__toks")) >= 2,
          QualityClassifier.bucketArray(nBuckets))
          .otherwise(array().cast("array<long>"))).as("__b"))
      .join(broadcast(wdf), Seq("__b"), "left_outer")
      .groupBy(col("doc"), col("fp"))
      .agg(count(col("__b")).as("n_fbuckets"),
        sum(coalesce(col("__w"), lit(0L))).as("__sw"))
      .select(col("doc"), col("fp"), col("n_fbuckets"),
        when(col("n_fbuckets") > 0,
          fdiv(col("__sw"), col("n_fbuckets"))).as("clf_logit"),
        when(col("n_fbuckets") > 0,
          hardSigmoid(fdiv(col("__sw"), col("n_fbuckets")))).as("clf_prob"))
  }

  /** Train on `labeled`, score `corpus`, land everything. Returns the
    * landed score-row count (= corpus rows).
    *
    * `landStream = true` routes training through a parquet-landed
    * feature stream under `path/tmpstream` (removed on completion)
    * instead of executor-pinned localCheckpoint blocks — the
    * fault-tolerant posture for a real cluster, where an executor lost
    * mid-train re-reads its split instead of failing the build; weights
    * are bit-identical either way (see
    * [[QualityClassifier.train]]'s `streamLanding` contract).
    */
  def build(labeled: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
            labelPred: Column, path: String, nBuckets: Int = 4096,
            landStream: Boolean = false): Long =
    buildWith(labeled, corpus, idCol, textCol, labelPred, path, nBuckets,
      trainFingerprint(labeled, idCol, textCol, labelPred), landStream)

  /** [[build]] with the labeled-slice digest already in hand — the
    * retrain arm of [[refresh]] just computed it to DETECT the change,
    * so recomputing it here would be a second full aggregate pass over
    * the labeled slice for nothing.
    */
  private def buildWith(labeled: DataFrame, corpus: DataFrame, idCol: String,
                        textCol: String, labelPred: Column, path: String,
                        nBuckets: Int, fp: (Long, Long, Long),
                        landStream: Boolean = false): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (n, x, s) = fp
    val landing = if (landStream) Some(path + "/tmpstream") else None
    val model =
      try QualityClassifier.train(labeled, idCol, textCol, labelPred, nBuckets,
        streamLanding = landing)
      finally landing.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    // model/meta are nBuckets-bounded — ONE file each (guide §6; see
    // PqIndex.build's small-files note); scores stay wide
    graft.lake.Staged.landMany(spark, path, Seq(
      "model" -> QualityClassifier.modelDf(spark, model).coalesce(1),
      "meta" -> Seq((nBuckets, n, x, s))
        .toDF("nbuckets", "train_n", "train_xor", "train_sum").coalesce(1),
      "scores" -> scoreRows(corpus, idCol, textCol, model, nBuckets)))
    spark.read.parquet(scoresPath(path)).count()
  }

  /** The pinned model, collected back nBuckets-bounded. */
  def loadModel(spark: SparkSession, path: String): Map[Long, Long] =
    Similarity.collectBounded(spark.read.parquet(modelPath(path)),
        1 << 16, "clf model")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def loadMeta(spark: SparkSession, path: String): (Int, Long, Long, Long) = {
    val r = spark.read.parquet(metaPath(path)).head()
    (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def requireBuilt(spark: SparkSession, path: String, op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(modelPath(path))
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"ClfIndex.$op: no model at $path — a classifier cannot be trained " +
        "without its labeled slice; run ClfIndex.build first")
  }

  /** Refresh against the current `labeled` slice and `corpus`. Labeled
    * slice unchanged → model pinned, unchanged docs' score rows carry
    * verbatim, only new/changed docs re-score, vanished docs drop.
    * Labeled slice changed → full retrain + rescore (the model itself
    * is stale; every carried score would be wrong). Returns
    * (keptRows, signedRows) — a retrain reports (0, corpus).
    */
  def refresh(labeled: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
              labelPred: Column, path: String): (Long, Long) = {
    val spark = corpus.sparkSession
    requireBuilt(spark, path, "refresh")
    val (nBuckets, n0, x0, s0) = loadMeta(spark, path)
    val (n1, x1, s1) = trainFingerprint(labeled, idCol, textCol, labelPred)
    if ((n1, x1, s1) != ((n0, x0, s0)))
      return (0L, buildWith(labeled, corpus, idCol, textCol, labelPred, path,
        nBuckets, (n1, x1, s1)))
    churn(corpus, idCol, textCol, path, nBuckets, ChurnSplit.Refresh)
  }

  /** Delta upsert under the PINNED model — the drop/streaming form:
    * add or replace exactly the batch's docs (re-delivered unchanged
    * docs carry verbatim), out-of-batch rows untouched. No label is
    * needed — upsert never retrains; a labeled-slice change is a
    * [[refresh]]/[[build]] decision, not a drop-cadence one. Returns
    * (carriedBatchDocs, signedBatchDocs).
    */
  def upsert(batch: DataFrame, idCol: String, textCol: String, path: String): (Long, Long) = {
    val spark = batch.sparkSession
    requireBuilt(spark, path, "upsert")
    val (nBuckets, _, _, _) = loadMeta(spark, path)
    churn(batch, idCol, textCol, path, nBuckets, ChurnSplit.Upsert)
  }

  /** The pinned-model churn seam of [[refresh]] and [[upsert]]:
    * unchanged docs' score rows carry verbatim, only new/changed docs
    * re-score.
    */
  private def churn(docs: DataFrame, idCol: String, textCol: String, path: String,
                    nBuckets: Int, mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = docs.sparkSession
    val model = loadModel(spark, path)
    val s = ChurnSplit.split(spark.read.parquet(scoresPath(path)), "doc", "fp",
      docs, idCol, md5(docs(textCol)))
    ChurnSplit.land(spark, scoresPath(path), s,
      scoreRows(s.fresh, idCol, textCol, model, nBuckets), mode)
  }

  /** The landed per-doc score table. */
  def serve(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(scoresPath(path))
}
