package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SEMANTIC near-dup cluster labels with churn-proportional
  * maintenance — the embedding-space twin of [[ClusterIndex]]: that
  * tier maintains component labels under the MinHash band graph; this
  * one maintains them under the [[Similarity.semanticDedup]] graph
  * (IVF-cell candidates, exact-decimal dot ≥ threshold). At 100 TB a
  * monthly re-embedding drop touching 1% of vectors must not re-run
  * connected components over every within-cell pair.
  *
  * Layout: `path/centroids` (the PINNED codebook — refresh never
  * retrains, so an unchanged vector keeps its cell and the edge set
  * can only change at changed/new/vanished vectors), `path/meta` (the
  * pinned threshold), `path/labels` (doc, vfp, label) with label =
  * component-min doc id.
  *
  * Refresh contract and algorithm are [[ClusterIndex.refresh]]'s,
  * with one structural difference: there is no persisted posting
  * sidecar to mine delta edges from — they are recomputed from the
  * CURRENT corpus by cell-joining only the delta docs' side against
  * the full assignment (map-side cells from the pinned codebook), so
  * edge cost follows the churn's cell populations, never the corpus
  * pair count. The same two facts carry the correctness argument:
  * edges appear/disappear only at changed/new/vanished vectors
  * (pinned codebook ⇒ unchanged vector ⇒ unchanged cell ⇒ unchanged
  * dots), and a component can split only if it lost a member's edges —
  * so intact components contract to their label node and label-node
  * ids provably cannot collide with delta doc ids (label L means doc L
  * is that component's min member; a changed/vanished L makes its
  * component a split candidate, not intact).
  */
object SemDedupIndex {

  private def centsPath(path: String) = s"$path/centroids"
  private def metaPath(path: String) = s"$path/meta"
  private def labelsPath(path: String) = s"$path/labels"
  private def vecFp(vec: org.apache.spark.sql.Column) = xxhash64(vec)

  /** Near-dup edges with the x side restricted (delta docs at refresh,
    * the whole corpus at build): cell equi-join, double gate, decimal
    * decider, normalized to a < b (the =!= join sees each unordered
    * pair up to twice; distinct folds them).
    */
  private def edges(xSide: DataFrame, ySide: DataFrame,
                    threshold: BigDecimal): DataFrame =
    xSide.as("x").join(ySide.as("y"),
        col("x.cell") === col("y.cell") && col("x.doc") =!= col("y.doc"))
      .filter(graft.functions.DotFloat.dot_float(col("x.v"), col("y.v")) >=
        threshold.toDouble - 1e-6)
      .filter(Similarity.dotExactDec(col("x.v"), col("y.v")) >=
        lit(threshold).cast("decimal(36,15)"))
      .select(least(col("x.doc"), col("y.doc")).as("a"),
        greatest(col("x.doc"), col("y.doc")).as("b"))
      .distinct()

  private def coarsePath(path: String) = s"$path/coarse"

  private def assigned(corpus: DataFrame, idCol: String, vecCol: String,
                       cellOf: org.apache.spark.sql.Column): DataFrame =
    corpus.select(col(idCol).cast("long").as("doc"), col(vecCol).as("v"),
      cellOf.as("cell"), vecFp(col(vecCol)).as("vfp"))

  private def buildFrom(corpus: DataFrame, idCol: String, vecCol: String,
                        path: String, cellOf: org.apache.spark.sql.Column,
                        threshold: BigDecimal): Long = {
    val spark = corpus.sparkSession
    // materialize the assignment ONCE: `cellOf` is an nList×dim tree of
    // plan literals and the self-join below references the frame twice
    // (plus the labels consumer) — leaving it lazy substitutes the whole
    // tree per reference and re-evaluates the assignment per consumer
    // (the PqIndex.rotatedMat plan-size note; guide §3.3)
    val a = assigned(corpus, idCol, vecCol, cellOf).localCheckpoint(true)
    val comp = Dedup.connectedComponents(edges(a, a, threshold))
    val labels = a.select(col("doc"), col("vfp"))
      .join(comp, col("doc") === col("node"), "left_outer")
      .select(col("doc"), col("vfp"), coalesce(col("component"), col("doc")).as("label"))
    graft.lake.Staged.land(spark, labelsPath(path), labels)
  }

  /** Build from scratch: pin the codebook + threshold, land the labels.
    * `trained = true` pins the distributed k-means codebook instead of
    * the deterministic seed one. Returns labeled rows.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nList: Int = 8, threshold: BigDecimal = BigDecimal("0.35"),
            trained: Boolean = false): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents =
      if (trained) Similarity.ivfCentroidsKMeans(corpus, idCol, vecCol, nList)
      else Similarity.ivfCentroids(corpus, idCol, vecCol, nList)
    // the two codebook-sized sidecar lands are independent of the label
    // chain — overlap all three (guide §2.6 via Overlap); the labeled
    // row count comes first
    graft.core.Overlap.all(Seq(
      () => buildFrom(corpus, idCol, vecCol, path,
        Similarity.ivfCell(col(vecCol), cents), threshold),
      () => graft.lake.Staged.land(spark, centsPath(path),
        cents.map { case (id, v) => (id, v) }.toDF("cell_id", "cv").coalesce(1)),
      () => graft.lake.Staged.land(spark, metaPath(path),
        Seq(threshold.toString).toDF("threshold").coalesce(1)))).head
  }

  /** Build under a corpus-scaled HIERARCHICAL codebook (round-15
    * verdict weak #1): nList can follow corpus size, assignment is the
    * compiled two-level probe. The fine/coarse codebooks and m are
    * pinned like the flat codebook — a refresh never retrains, so the
    * unchanged-vector ⇒ unchanged-cell invariant the label maintenance
    * rests on is identical in both modes.
    */
  def buildHier(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                nList: Int, m: Int = 4,
                threshold: BigDecimal = BigDecimal("0.35")): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val hier = IvfHier.train(corpus, idCol, vecCol, nList, m)
    // the three codebook-sized sidecar lands are independent of the
    // label chain — overlap all four (guide §2.6 via Overlap); the
    // labeled row count comes first
    graft.core.Overlap.all(Seq(
      () => buildFrom(corpus, idCol, vecCol, path,
        Similarity.hierCell(col(vecCol), hier), threshold),
      () => graft.lake.Staged.land(spark, centsPath(path),
        hier.fine.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
          .toDF("cell_id", "cv").coalesce(1)),
      () => graft.lake.Staged.land(spark, coarsePath(path),
        hier.coarse.zipWithIndex.map { case (v, c) =>
          (c.toLong, v.toSeq, hier.fineOfCoarse(c).toSeq)
        }.toDF("coarse_id", "cv", "fine_idx").coalesce(1)),
      () => graft.lake.Staged.land(spark, metaPath(path),
        Seq((threshold.toString, hier.m)).toDF("threshold", "m").coalesce(1)))).head
  }

  private def loadCentroids(spark: SparkSession, path: String): Seq[(Long, Seq[Float])] =
    spark.read.parquet(centsPath(path)).orderBy(col("cell_id"))
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))

  private def loadThreshold(spark: SparkSession, path: String): BigDecimal =
    BigDecimal(spark.read.parquet(metaPath(path)).collect().head.getString(0))

  /** The pinned cell assignment, whichever mode the index was built
    * under (a `coarse` table marks the hierarchical one).
    */
  private def loadCellOf(spark: SparkSession, path: String,
                         vecCol: String): org.apache.spark.sql.Column = {
    val cp = new org.apache.hadoop.fs.Path(coarsePath(path))
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cp)) Similarity.ivfCell(col(vecCol), loadCentroids(spark, path))
    else {
      val fine = spark.read.parquet(centsPath(path)).orderBy(col("cell_id"))
        .collect().toIndexedSeq.map(_.getSeq[Float](1).toArray)
      val coarseRows = spark.read.parquet(coarsePath(path)).orderBy(col("coarse_id"))
        .collect().toIndexedSeq
      val m = spark.read.parquet(metaPath(path)).collect().head.getAs[Int]("m")
      val hier = IvfHier(fine, coarseRows.map(_.getSeq[Float](1).toArray),
        coarseRows.map(_.getSeq[Int](2).toArray), m)
      Similarity.hierCell(col(vecCol), hier)
    }
  }

  /** Churn-proportional refresh to the current corpus state (requires a
    * built index — the codebook and threshold are pinned there).
    * Returns (carriedDocs, relabeledDocs).
    */
  def refresh(corpus: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) = {
    val spark = corpus.sparkSession
    val threshold = loadThreshold(spark, path)
    // checkpoint, not persist: the pinned cell assignment is an
    // nList×dim literal tree referenced by both edge sides and the
    // fingerprint projection — truncating the plan keeps analysis/
    // codegen from re-substituting it per consumer (the build-side
    // assigned note; guide §3.3)
    val cur = assigned(corpus, idCol, vecCol, loadCellOf(spark, path, vecCol))
      .localCheckpoint(true)
    // delta edges: >= 1 endpoint in the delta, mined from the CURRENT
    // corpus under the pinned cells; label maintenance is the shared
    // [[IncrementalLabels]] core
    IncrementalLabels.refresh(spark, labelsPath(path),
      cur.select(col("doc"), col("vfp")), "vfp",
      docGran => edges(cur.join(docGran, Seq("doc"), "left_semi"), cur, threshold))
  }

  /** Current labels (doc, label): label = component-min doc id,
    * identical to a from-scratch [[Similarity.semanticDedup]] over the
    * corpus the index reflects. Zero clustering at serve time.
    */
  def serve(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(labelsPath(path)).select(col("doc"), col("label"))
}
