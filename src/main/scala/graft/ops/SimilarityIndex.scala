package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{ChurnSplit, Staged}

/** Persisted IVF-SQ8 index — ANN as a lake artifact instead of a
  * per-query rebuild.
  *
  * The recompute-form queries ([[Similarity.ivfTopKInt8]]) collect a
  * codebook and quantize/assign the WHOLE corpus inside every probe.
  * Correct, but O(corpus) per query — at 100 TB the inverted lists must
  * be built once, refreshed on churn, and probed many times (the same
  * posture as [[DedupIndex]] for near-dup and
  * [[graft.lake.BloomIndex]] for point lookups). Layout at `path`:
  *
  *  - `path/centroids` — the codebook (cell id, float vector), pinned at
  *    build time: a refresh NEVER retrains it (assignments must stay
  *    comparable across drops); retraining is an explicit rebuild;
  *  - `path/lists` — one row per corpus vector: (cid, vfp, cell, lo, hi,
  *    codes) = the [[Similarity.int8Lists]] row plus `vfp`, an md5
  *    fingerprint of the float vector used for churn detection.
  *
  * `refresh` quantizes/assigns ONLY vectors that are new or changed
  * (fingerprint anti-join, digest-sized), carries unchanged rows
  * verbatim, drops vanished ids. `topKInt8` probes the persisted lists
  * with the exact gate/margin/decimal-decider of the recompute path —
  * the only corpus touch at probe time is the k+margin full-precision
  * survivor fetch, so probe cost follows list density, not corpus size,
  * and a probe issues ZERO list-build work.
  *
  * Landing is staged-swap (the bloom/dedup sidecar posture): a crash
  * leaves old, new, or none — never a torn index.
  */
object SimilarityIndex {

  private def centsPath(path: String) = path + "/centroids"
  private def listsPath(path: String) = path + "/lists"

  /** Vector change fingerprint: xxhash64 straight over the float array —
    * no per-component string conversion (the earlier md5-of-joined-
    * strings did 64 float->string formats per row; measured as a
    * noticeable slice of refresh). A changed vector escaping re-signing
    * needs an exact 64-bit collision (2^-64 per row) — the standard
    * churn-detection tradeoff, negligible beside the SQ8 tier's own
    * approximation envelope.
    */
  private def vecFp(vec: org.apache.spark.sql.Column) = xxhash64(vec)

  /** Build from scratch: codebook over `corpus`, then the full inverted
    * lists. Returns indexed rows. `trained = false` (default) pins the
    * deterministic seed codebook (oracle-shared); `trained = true` pins
    * the distributed sampled-k-means codebook
    * ([[Similarity.ivfCentroidsKMeans]] — better recall per probed
    * cell, bit-reproducible, no driver Lloyd). Either way the codebook
    * is PINNED: refresh never retrains, rebuild to retrain.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nList: Int, trained: Boolean = false): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents =
      if (trained) Similarity.ivfCentroidsKMeans(corpus, idCol, vecCol, nList)
      else Similarity.ivfCentroids(corpus, idCol, vecCol, nList)
    Staged.land(spark, centsPath(path),
      cents.map { case (id, v) => (id, v) }.toDF("cell_id", "cv").coalesce(1))
    Staged.land(spark, listsPath(path),
      Similarity.int8Lists(corpus, idCol, vecCol, cents,
        extraCols = Seq(vecFp(col(vecCol)).as("vfp"))))
  }

  /** The pinned codebook, collected back codebook-sized (nList rows). */
  def loadCentroids(spark: SparkSession, path: String): Seq[(Long, Seq[Float])] =
    spark.read.parquet(centsPath(path))
      .orderBy(col("cell_id"))
      .collect()
      .toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))

  /** Churn-proportional refresh under the PINNED codebook: carry
    * unchanged vectors' list rows verbatim, quantize/assign only
    * new/changed ids, drop vanished ones. Returns (keptRows, signedRows).
    */
  def refresh(corpus: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) =
    churn(corpus, idCol, vecCol, path, ChurnSplit.Refresh)

  /** Delta UPSERT — the streaming / foreachBatch form of [[refresh]]:
    * add or replace exactly the batch's vectors under the PINNED
    * codebook, leaving every other vector's list row untouched (no drop
    * semantics). Re-delivered unchanged vectors carry verbatim. Requires
    * a built index (the codebook must exist — a micro-batch is not a
    * corpus to train on). Returns (carriedBatchRows, signedBatchRows).
    */
  def upsert(batch: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) =
    churn(batch, idCol, vecCol, path, ChurnSplit.Upsert)

  /** Shared churn seam: unchanged vectors' list rows carry verbatim,
    * only drifted/new ids quantize under the pinned codebook.
    */
  private def churn(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                    mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = corpus.sparkSession
    val cents = loadCentroids(spark, path)
    val s = ChurnSplit.split(spark.read.parquet(listsPath(path)), "cid", "vfp",
      corpus, idCol, vecFp(corpus(vecCol)))
    ChurnSplit.land(spark, listsPath(path), s,
      Similarity.int8Lists(s.fresh, idCol, vecCol, cents,
        extraCols = Seq(vecFp(col(vecCol)).as("vfp"))), mode)
  }

  /** IVF-SQ8 top-k served FROM the persisted index: same result as the
    * recompute form under the same codebook; zero quantization or cell
    * assignment of corpus vectors at probe time.
    */
  def topKInt8(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               path: String, k: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    val cents = loadCentroids(spark, path)
    Similarity.ivfTopKInt8FromLists(cents, spark.read.parquet(listsPath(path)),
      corpus, queries, idCol, vecCol, k, nProbe)
  }
}
