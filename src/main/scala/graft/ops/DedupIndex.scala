package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.ChurnSplit

/** Persisted MinHash/LSH band index — incremental near-dup dedup.
  *
  * The recompute-per-run dedup queries ([[Dedup.minhashCandidates]])
  * re-shingle and re-sign the WHOLE corpus on every invocation. That is
  * the right shape for a one-shot audit and the wrong one for the
  * reference's actual cadence — monthly drops reconciled against an
  * existing corpus (reference: read_parquet.py:85-123, the max-id
  * watermark + re-ingest loop): at 100 TB, signing O(corpus) per drop is
  * the bottleneck, while the churn is O(drop).
  *
  * This sidecar makes near-dup candidate generation churn-proportional,
  * the exact pattern [[graft.lake.BloomIndex.refreshSnapshot]] proves for
  * point lookups:
  *
  *  - the index is a parquet table `(doc, fp, band, key)` — one row per
  *    LSH band per document, `fp = md5(text)` as the change fingerprint;
  *    documents with no shingles carry a single `band = -1` marker row so
  *    their unchanged-ness is also tracked;
  *  - `refresh` re-shingles ONLY documents that are new or whose text
  *    fingerprint changed; every other document's band rows are carried
  *    VERBATIM (never re-tokenized, never re-hashed — their bytes move,
  *    their signatures are not recomputed); rows of vanished documents
  *    drop out;
  *  - `candidatePairs` serves the same (a, b) candidate set as the
  *    from-scratch [[Dedup.minhashCandidatesFromShingles]] would on the
  *    current corpus — one equi-join on the persisted band keys, no
  *    signing at query time at all.
  *
  * Refresh cost at scale: one md5 pass over the drop's text for the
  * fingerprint anti-join, shingling only for the churn, one shuffle of
  * index-sized rows (band keys, never text) to land. The fingerprint
  * comparison joins on (doc, fp) — both sides digest-sized.
  *
  * Landing is staged-swap (write `.staging`, delete, rename), same
  * crash posture as the bloom sidecar: a crash leaves the old index, the
  * new one, or none — "none" means rebuild, never a wrong candidate set.
  */
object DedupIndex {

  /** Band rows for `docs`: (doc, fp, band, key); `band = -1` marker for
    * shingle-less documents. One signing pass per document.
    */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
               bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("doc"), md5(col(textCol)).as("fp"),
      Dedup.shingles(col(textCol)).as("sh"))
    val signed = base.filter(size(col("sh")) >= 1)
      .withColumn("__sig", Dedup.minhashSignature(col("sh"), bands * rowsPerBand))
    val keys = Dedup.bandKeysFromSignature(col("__sig"), bands, rowsPerBand)
    signed
      .select(col("doc"), col("fp"), posexplode(array(keys: _*)).as(Seq("band", "key")))
      .unionByName(base.filter(size(col("sh")) < 1)
        .select(col("doc"), col("fp"), lit(-1).as("band"), lit(null).cast("string").as("key")))
  }

  /** Build the index from scratch at `path`. Returns indexed doc count. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            bands: Int = 4, rowsPerBand: Int = 2): Long = {
    // one signing pass, and the indexed-doc count is observed on its
    // landing: nothing is kept on a build, and each doc has exactly one
    // `band <= 0` row (the [[docFps]] invariant), as in [[churn]]
    val rows = bandRows(docs, idCol, textCol, bands, rowsPerBand)
    ChurnSplit.landRows(docs.sparkSession, path, rows.limit(0), rows,
      count(when(col("band") <= 0, 1)))._2
  }

  /** Churn-proportional refresh: carry unchanged documents' rows
    * verbatim, sign only new/changed documents, drop vanished ones.
    * Returns (keptDocs, signedDocs) — spec-observable proof that cost
    * follows churn.
    */
  def refresh(docs: DataFrame, idCol: String, textCol: String, path: String,
              bands: Int = 4, rowsPerBand: Int = 2): (Long, Long) =
    churn(docs, idCol, textCol, path, bands, rowsPerBand, ChurnSplit.Refresh)

  /** Delta UPSERT — the streaming / foreachBatch form of [[refresh]]:
    * add or replace exactly the batch's documents, leaving every other
    * document's rows untouched (no drop semantics — deletions are a
    * corpus-level `refresh` decision, not a micro-batch one). A
    * re-delivered unchanged document (same fingerprint) keeps its rows
    * verbatim, so replaying a feed never re-signs the steady state.
    * Returns (carriedBatchDocs, signedBatchDocs).
    */
  def upsert(batch: DataFrame, idCol: String, textCol: String, path: String,
             bands: Int = 4, rowsPerBand: Int = 2): (Long, Long) =
    churn(batch, idCol, textCol, path, bands, rowsPerBand, ChurnSplit.Upsert)

  /** The shared body of [[refresh]] and [[upsert]]: unchanged docs'
    * band rows carried verbatim, only fingerprint-drifted/new docs
    * re-signed (the ChurnSplit contract); `mode` decides whether rows
    * of documents outside `docs` drop or carry.
    */
  private def churn(docs: DataFrame, idCol: String, textCol: String, path: String,
                    bands: Int, rowsPerBand: Int, mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = docs.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, build(docs, idCol, textCol, path, bands, rowsPerBand))
    val s = ChurnSplit.split(spark.read.parquet(path), "doc", "fp",
      docs, idCol, md5(docs(textCol)))
    // documents, not band rows: each doc has exactly one `band <= 0`
    // row (the [[docFps]] invariant); `count`, not `sum`, so an empty
    // branch reads 0 rather than null
    ChurnSplit.land(spark, path, s, bandRows(s.fresh, idCol, textCol, bands, rowsPerBand),
      mode, count(when(col("band") <= 0, 1)))
  }

  /** One (doc, fp) row per indexed document, from band rows: every
    * signed document emits band 0 and every shingle-less one the single
    * band = -1 marker, so `band <= 0` selects exactly one row per doc —
    * the corpus's (id, md5(text)) view WITHOUT re-scanning the text
    * (each doc carries one fingerprint by [[bandRows]] construction).
    */
  private[graft] def docFps(rows: DataFrame): DataFrame =
    rows.filter(col("band") <= 0)
      .select(col("doc").cast("long").as("doc"), col("fp"))

  /** LSH candidate pairs (a, b), a < b, from the PERSISTED index — no
    * shingling or signing at query time; one equi-join on (band, key).
    * Identical result to the from-scratch candidates over the corpus the
    * index currently reflects.
    */
  def candidatePairs(spark: SparkSession, path: String): DataFrame =
    candidatePairsFrom(spark.read.parquet(path))

  /** [[candidatePairs]] over an in-memory band-row frame — the seam
    * that lets a builder reuse its freshly computed (checkpointed) band
    * rows for the component chain instead of re-reading the table it
    * just landed (identical rows by construction).
    */
  private[ops] def candidatePairsFrom(rows: DataFrame): DataFrame = {
    val banded = rows.filter(col("band") >= 0)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .distinct()
  }

  /** Candidate pairs INVOLVING the given documents — the monthly-drop
    * working set: after `refresh`/`upsert` lands a drop, dedup decisions
    * need the pairs where at least one side is in the drop, not the
    * corpus's full O(collisions) pair set. One semi-join restricts the
    * left side to the drop's band rows, then the usual band equi-join
    * against the whole index; (a, b) normalized by least/greatest so a
    * drop doc on either side of the id order is found. Output scales
    * with the DROP's band collisions.
    */
  def candidatePairsInvolving(spark: SparkSession, path: String,
                              docs: DataFrame, docCol: String): DataFrame = {
    val banded = spark.read.parquet(path).filter(col("band") >= 0)
    val target = docs.select(col(docCol).as("doc")).distinct()
    val dropSide = banded.join(target, Seq("doc"), "left_semi")
    dropSide.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc") =!= col("y.doc"))
      .select(least(col("x.doc"), col("y.doc")).as("a"),
        greatest(col("x.doc"), col("y.doc")).as("b"))
      .distinct()
  }
}
