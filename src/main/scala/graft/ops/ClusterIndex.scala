package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup CLUSTER LABELS with churn-proportional
  * maintenance — the missing incremental member of the dedup tier:
  * [[DedupIndex]] maintains the band rows (candidate generator) per
  * drop, but cluster labels were recomputed corpus-wide. At 100 TB a
  * monthly drop touching 1% of documents must not re-run connected
  * components over every candidate pair.
  *
  * Layout: `path/bands` (the [[DedupIndex]] sidecar) + `path/labels`
  * (doc, fp, label) where `label` = the component-min doc id under the
  * band-index candidate graph — identical to
  * [[Dedup.connectedComponents]] over the full pair set.
  *
  * Refresh contract (docs = the FULL current corpus, like
  * [[DedupIndex.refresh]]): band rows refresh first (fingerprint-gated),
  * then labels update on the DELTA only, exploiting two structural
  * facts about the candidate graph:
  *
  *  1. an edge can appear or disappear ONLY at a document whose band
  *     rows changed (new / text-drifted / vanished docs) — every other
  *     edge is already reflected in the old labels;
  *  2. a component is at risk of SPLITTING only if it LOST a member's
  *     edges — i.e. it contains a changed or vanished doc.
  *
  * So the recompute graph is: members of split-candidate components at
  * doc granularity, changed/new docs at doc granularity, and every
  * OTHER component CONTRACTED to its label node (its internal edges are
  * intact, so it stays connected; its label IS its min member id, so
  * component-mins over the contracted graph equal the full graph's).
  * Delta edges come from [[DedupIndex.candidatePairsInvolving]] —
  * output scales with the delta's band collisions, never the corpus.
  * Label-node ids cannot collide with doc-granularity nodes: label L
  * means doc L is that component's min member, so if doc L is in the
  * delta its component is a split candidate, not intact.
  *
  * Cost per drop: O(churn + Σ|split-candidate components| + contracted
  * edges). Deletion-heavy drops degrade gracefully (their components
  * recompute at doc granularity); everything else carries.
  */
object ClusterIndex {

  private def bandsPath(path: String) = s"$path/bands"
  private def labelsPath(path: String) = s"$path/labels"

  /** Build from scratch: band index + labels. Returns labeled docs. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            bands: Int = 4, rowsPerBand: Int = 2): Long = {
    val spark = docs.sparkSession
    // sign ONCE: the checkpointed band rows feed both the band-table
    // landing and the candidate join directly, instead of landing and
    // re-reading the same rows (plus the build's distinct-doc count
    // job); the landing overlaps the component chain — independent
    // paths, identical landed bytes (guide §2.4/§2.6)
    val rows = DedupIndex.bandRows(docs, idCol, textCol, bands, rowsPerBand)
      .localCheckpoint(true)
    // the labeled row count comes first
    graft.core.Overlap.all(Seq(
      () => {
        val pairs = DedupIndex.candidatePairsFrom(rows)
        val comp = Dedup.connectedComponents(pairs)
        // (doc, fp) from the checkpointed band rows instead of a SECOND
        // md5 pass over the corpus text (guide §2.3): every signed doc has
        // band 0 and every shingle-less doc the single band=-1 marker, so
        // `band <= 0` is exactly one row per doc with its fingerprint —
        // identical to docs.select(id, md5(text)) by bandRows' construction
        val labels = DedupIndex.docFps(rows)
          .join(comp, col("doc") === col("node"), "left_outer")
          .select(col("doc"), col("fp"), coalesce(col("component"), col("doc")).as("label"))
        graft.lake.Staged.land(spark, labelsPath(path), labels)
      },
      () => graft.lake.Staged.land(spark, bandsPath(path), rows))).head
  }

  /** Churn-proportional refresh to the current corpus state. Returns
    * (carriedDocs, relabeledDocs) — the observable proof that label
    * maintenance followed the churn, not the corpus.
    */
  def refresh(docs: DataFrame, idCol: String, textCol: String, path: String,
              bands: Int = 4, rowsPerBand: Int = 2): (Long, Long) = {
    val spark = docs.sparkSession
    val lp = new org.apache.hadoop.fs.Path(labelsPath(path))
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lp))
      return (0L, build(docs, idCol, textCol, path, bands, rowsPerBand))
    DedupIndex.refresh(docs, idCol, textCol, bandsPath(path), bands, rowsPerBand)
    // delta edges: >= 1 endpoint in the delta, from the refreshed band
    // index; label maintenance is the shared [[IncrementalLabels]] core.
    // The (doc, fp) view of the current corpus comes from the band table
    // the line above just landed — it reflects `docs` exactly (kept rows
    // carry their old fp == md5(text), fresh rows are re-signed, vanished
    // rows dropped), so reading it replaces a full corpus-text md5 scan
    // with an index-sized digest read (guide §2.3)
    IncrementalLabels.refresh(spark, labelsPath(path),
      DedupIndex.docFps(spark.read.parquet(bandsPath(path))), "fp",
      docGran => DedupIndex.candidatePairsInvolving(spark, bandsPath(path), docGran, "doc"))
  }

  /** Current labels (doc, label): label = component-min doc id,
    * identical to a from-scratch [[Dedup.connectedComponents]] over the
    * corpus the index reflects. Zero clustering at serve time.
    */
  def serve(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(labelsPath(path)).select(col("doc"), col("label"))
}
