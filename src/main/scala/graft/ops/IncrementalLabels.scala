package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared churn-proportional component-label maintenance core of
  * [[ClusterIndex]] (text near-dups under the MinHash band graph) and
  * [[SemDedupIndex]] (embedding near-dups under the IVF-cell graph).
  *
  * Both tiers persist `(doc, <fingerprint>, label)` with label = the
  * component-min doc id, and both exploit the same two structural
  * facts about their candidate graph:
  *
  *  1. an edge can appear or disappear ONLY at a document whose graph
  *     inputs changed (new / fingerprint-drifted / vanished docs) —
  *     every other edge is already reflected in the old labels;
  *  2. a component is at risk of SPLITTING only if it LOST a member's
  *     edges — i.e. it contains a changed or vanished doc.
  *
  * So the recompute graph is: members of split-candidate components at
  * doc granularity, changed/new docs at doc granularity, and every
  * OTHER component CONTRACTED to its label node (its internal edges
  * are intact, so it stays connected; its label IS its min member id,
  * so component-mins over the contracted graph equal the full
  * graph's). Label-node ids cannot collide with doc-granularity
  * nodes: label L means doc L is that component's min member, so if
  * doc L is in the delta its component is a split candidate, not
  * intact.
  *
  * Cost per refresh: O(churn + Σ|split-candidate components| +
  * contracted edges). Deletion-heavy drops degrade gracefully (their
  * components recompute at doc granularity); everything else carries.
  */
private[ops] object IncrementalLabels {

  /** Refresh the label table at `labelsPath` to the state of `cur`
    * (`(doc, <fpCol>)` — the full current corpus's ids and
    * fingerprints). `deltaEdges(docGran)` must return the `(a, b)`
    * edges of the CURRENT graph with at least one endpoint in
    * `docGran` (a one-column `doc` frame). Returns
    * (carriedDocs, relabeledDocs).
    */
  def refresh(spark: SparkSession, labelsPath: String, cur: DataFrame,
              fpCol: String, deltaEdges: DataFrame => DataFrame): (Long, Long) = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val old = spark.read.parquet(labelsPath).persist(mem)
    val curP = cur.persist(mem)
    // delta docs: new or fingerprint-drifted
    val changedOrNew = curP.join(old, Seq("doc", fpCol), "left_anti").select("doc")
    val vanished = old.join(curP, Seq("doc"), "left_anti").select("doc", "label")
    // split candidates: components that LOST edges
    val splitLabels = old.join(changedOrNew, Seq("doc"), "left_semi").select("label")
      .union(vanished.select("label")).distinct()
    val inS = old.join(splitLabels, Seq("label"), "left_semi").select("doc")
    // doc-granularity node set D (vanished members ride along but have
    // no graph inputs left, so they surface only as isolated nodes and
    // are dropped by the cur join below)
    val docGran = inS.union(changedOrNew).distinct().persist(mem)
    val delta = deltaEdges(docGran)
    // contract intact endpoints to their component's label node
    val rep = old.select(col("doc"), col("label"))
      .join(docGran.withColumn("__dg", lit(true)), Seq("doc"), "left_outer")
      .select(col("doc"), when(col("__dg"), col("doc")).otherwise(col("label")).as("rep"))
    val contracted = delta
      .join(rep.select(col("doc").as("a"), col("rep").as("__ra")), Seq("a"), "left_outer")
      .join(rep.select(col("doc").as("b"), col("rep").as("__rb")), Seq("b"), "left_outer")
      .select(coalesce(col("__ra"), col("a")).as("u"), coalesce(col("__rb"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
    val comp = Dedup.connectedComponents(contracted, "u", "v").persist(mem)
    comp.count() // pin: consumed by two branches below AND the land
    val granLabels = docGran
      .join(comp.withColumnRenamed("node", "doc"), Seq("doc"), "left_outer")
      .join(curP, Seq("doc")) // vanished members drop here
      .select(col("doc"), col(fpCol), coalesce(col("component"), col("doc")).as("label"))
    // one row per intact row: comp has one row per node
    val intactLabels = old
      .join(docGran, Seq("doc"), "left_anti")
      .join(curP, Seq("doc"), "left_semi") // vanished intact rows drop
      .join(comp.withColumnRenamed("node", "label"), Seq("label"), "left_outer")
      .select(col("doc"), col(fpCol), coalesce(col("component"), col("label")).as("label"))
    // (carried, relabeled) are observed on the landing write itself
    val (carried, relabeled) = graft.lake.ChurnSplit.landRows(spark, labelsPath,
      kept = intactLabels, fresh = granLabels)
    Seq(old, curP, docGran, comp).foreach(_.unpersist(blocking = false))
    (carried, relabeled)
  }
}
