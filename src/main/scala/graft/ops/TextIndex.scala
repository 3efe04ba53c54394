package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{ChurnSplit, Staged}

/** Persisted per-document text-stats sidecar — the text tier's member
  * of the churn-proportional index family ([[DedupIndex]] for near-dup,
  * [[SimilarityIndex]] for ANN, [[graft.lake.MaterializedAgg]] for
  * summaries).
  *
  * The txt_* queries tokenize the corpus per run; correct for an audit,
  * O(corpus) per monthly drop at 100 TB when the churn is O(drop). This
  * sidecar lands one row per document — `(doc, fp, n_tokens, rhash,
  * quality, lang)`, everything a curation gate filters on — computed in
  * ONE tokenize pass, and `refresh` re-tokenizes only documents whose
  * md5 text fingerprint changed (digest-sized anti-join), carrying every
  * unchanged document's row verbatim and dropping vanished ones.
  * Curation then reads the stats table (`serve`) instead of re-running
  * the kernels corpus-wide.
  *
  * Landing is staged-swap ([[graft.lake.Staged]]): old, new, or none —
  * never a torn stats table.
  */
object TextIndex {

  /** One signing pass: every per-doc stat from a single tokenization. */
  def statsRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc"), md5(col(textCol)).as("fp"),
        col(textCol).as("__text"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc"), col("fp"),
        size(col("__toks")).cast("long").as("n_tokens"),
        TextAnalysis.rollingHashT(col("__toks")).as("rhash"),
        TextAnalysis.qualityScoreT(col("__toks"), col("__text")).as("quality"),
        TextAnalysis.langIdT(col("__toks")).as("lang"))

  def build(docs: DataFrame, idCol: String, textCol: String, path: String): Long = {
    val spark = docs.sparkSession
    Staged.land(spark, path, statsRows(docs, idCol, textCol))
    spark.read.parquet(path).count()
  }

  /** Churn-proportional refresh: carry unchanged documents' stats rows
    * verbatim, tokenize only new/changed documents, drop vanished ones.
    * Returns (keptDocs, signedDocs).
    */
  def refresh(docs: DataFrame, idCol: String, textCol: String, path: String): (Long, Long) =
    churn(docs, idCol, textCol, path, ChurnSplit.Refresh)

  /** Delta UPSERT — the batch/streaming form of [[refresh]]: add or
    * replace exactly the batch's documents (re-delivered unchanged docs
    * carry verbatim), out-of-batch rows untouched, no drop semantics.
    * Cost follows the BATCH — no corpus-wide fingerprint pass. Returns
    * (carriedBatchDocs, signedBatchDocs).
    */
  def upsert(batch: DataFrame, idCol: String, textCol: String, path: String): (Long, Long) =
    churn(batch, idCol, textCol, path, ChurnSplit.Upsert)

  /** Shared churn seam: unchanged stats rows carry verbatim, only
    * fingerprint-drifted/new docs re-tokenize.
    */
  private def churn(docs: DataFrame, idCol: String, textCol: String, path: String,
                    mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = docs.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, build(docs, idCol, textCol, path))
    val s = ChurnSplit.split(spark.read.parquet(path), "doc", "fp",
      docs, idCol, md5(docs(textCol)))
    ChurnSplit.land(spark, path, s, statsRows(s.fresh, idCol, textCol), mode)
  }

  /** The landed stats table. */
  def serve(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
