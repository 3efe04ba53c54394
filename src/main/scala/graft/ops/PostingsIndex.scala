package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{ChurnSplit, Staged}

/** Persisted inverted (posting-list) index — incremental BM25 serving,
  * the relevance tier's member of the churn-proportional index family
  * ([[DedupIndex]] near-dup, [[SimilarityIndex]] ANN, [[TextIndex]]
  * per-doc stats, [[graft.lake.MaterializedAgg]] summaries).
  *
  * [[Relevance.bm25]] tokenizes the whole corpus per query — right for
  * a one-shot audit, O(corpus) per probe at 100 TB when the index is
  * the classic search-engine artifact: build once, refresh on churn,
  * probe many times. This sidecar lands two tables under `path`:
  *
  *  - `postings/` — (doc, tok, tf): one row per distinct (document,
  *    token); the query-time read is `tok IN terms`, posting-list-sized;
  *  - `doclen/` — (doc, fp, dl): one row per document with its token
  *    count (the BM25 length norm; dl=0 rows keep empty documents in
  *    the corpus stats N/avgdl exactly as the recompute counts them)
  *    and `fp = md5(text)` as the change fingerprint.
  *
  * `refresh` re-tokenizes ONLY new/changed documents (digest-sized
  * (doc, fp) anti-join — the fingerprint discipline of
  * [[TextIndex.refresh]]); unchanged documents' postings and length
  * rows are carried verbatim, vanished documents' rows drop out.
  *
  * [[Relevance.bm25FromPostings]] probes the served tables through the
  * SAME arithmetic core as the recompute path, so scores are
  * bit-identical whenever the index reflects the corpus — the spec
  * property, and what lets an indexed probe replace the recompute in
  * any downstream ranking.
  *
  * Landing is one ATOMIC whole-root swap ([[Staged.landMany]]): both
  * tables replace together, so a crash leaves the old index, the new
  * one, or none — never new postings paired with old length norms (two
  * independent swaps had exactly that torn window).
  */
object PostingsIndex {

  /** Both index tables from ONE tokenize pass over `docs` (the exploded
    * token stream aggregates to postings; doclen's dl comes from the
    * same token arrays). The shared token frame comes back PERSISTED —
    * both returned tables consume it, and without the pin the doclen
    * write would re-run the whole scan+tokenize (the postings aggregate
    * alone can't be reused: it has already exploded the arrays away).
    * Callers unpersist it after landing.
    */
  private def indexRows(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("doc"), md5(col(textCol)).as("fp"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = base
      .select(col("doc"), explode(col("__toks")).as("tok"))
      .groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("tf"))
    val doclen = base.select(col("doc"), col("fp"), size(col("__toks")).cast("long").as("dl"))
    (postings, doclen, base)
  }

  def build(docs: DataFrame, idCol: String, textCol: String, path: String): Long = {
    val spark = docs.sparkSession
    val (postings, doclen, base) = indexRows(docs, idCol, textCol)
    val landed = Staged.landMany(spark, path, Seq("postings" -> postings, "doclen" -> doclen))
    base.unpersist()
    landed("doclen")
  }

  /** Churn-proportional refresh: carry unchanged documents' postings and
    * length rows verbatim, tokenize only new/changed documents, drop
    * vanished ones. Returns (keptDocs, signedDocs) — spec-observable
    * proof that cost follows churn.
    */
  def refresh(docs: DataFrame, idCol: String, textCol: String, path: String): (Long, Long) =
    churn(docs, idCol, textCol, path, ChurnSplit.Refresh)

  /** Delta UPSERT — the drop/streaming form of [[refresh]]: add or
    * replace exactly the batch's documents (re-delivered unchanged docs
    * carry verbatim), out-of-batch rows untouched, no drop semantics.
    * Cost follows the BATCH. Returns (carriedBatchDocs, signedBatchDocs).
    */
  def upsert(batch: DataFrame, idCol: String, textCol: String, path: String): (Long, Long) =
    churn(batch, idCol, textCol, path, ChurnSplit.Upsert)

  /** Shared churn seam on the doclen table (the fingerprint carrier);
    * postings keep every doc whose length row survives (carried, plus
    * out-of-batch in upsert mode) with one semi-join. md5 is evaluated
    * once per seam join — two scans of `docs`, and the scan dominates
    * the hash; collapsing them needs a corpus-sized persist that costs
    * more than it saves. Both tables swap together, so the doclen
    * branches are observed here rather than through [[ChurnSplit.land]].
    */
  private def churn(docs: DataFrame, idCol: String, textCol: String, path: String,
                    mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = docs.sparkSession
    val root = new org.apache.hadoop.fs.Path(s"$path/doclen")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0L, build(docs, idCol, textCol, path))
    val s = ChurnSplit.split(spark.read.parquet(s"$path/doclen"), "doc", "fp",
      docs, idCol, md5(docs(textCol)))
    // two consumers: the postings semi-join and the doclen landing
    val keptLen = s.kept
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (freshPost, freshLen, freshBase) = indexRows(s.fresh, idCol, textCol)
    val (lens, counts) = ChurnSplit.observedUnion(path, keptLen, freshLen)
    val (keepDocs, doclen) = mode match {
      case ChurnSplit.Upsert => (s.others.select(col("doc")).unionByName(keptLen.select(col("doc"))),
        s.others.unionByName(lens))
      case ChurnSplit.Refresh => (keptLen.select(col("doc")), lens)
    }
    val keptPost = spark.read.parquet(s"$path/postings").join(keepDocs, Seq("doc"), "left_semi")
    Staged.landMany(spark, path, Seq(
      "postings" -> keptPost.unionByName(freshPost), "doclen" -> doclen))
    keptLen.unpersist(); freshBase.unpersist()
    counts()
  }

  def servePostings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/postings")

  def serveDocLen(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/doclen")

  /** BM25 over the landed index — no corpus text read, no tokenize:
    * the plan is the terms' posting lists + the doclen aggregate.
    */
  def bm25(spark: SparkSession, path: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Relevance.bm25FromPostings(servePostings(spark, path),
      serveDocLen(spark, path).select(col("doc"), col("dl")), terms, k1, b)
}
