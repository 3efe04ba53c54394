package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.ChurnSplit

/** Persisted IMI-PQ index — the fully factorized 10^10+-vector serving
  * tier as a lake artifact: product cells from two √nCells
  * sub-codebooks ([[IvfImi]] — O(√nCells·dim) task/driver state),
  * 8-byte residual codes under the DERIVED μ = [sub1_i ++ sub2_j]
  * (zero per-cell state anywhere), the [[PqIndex]] churn contract.
  *
  * Layout at `path` (staged-swap, never torn):
  *  - `path/subbooks` — (side 1|2, idx, cent): both sub-codebooks,
  *    PINNED at build (a cell id is only meaningful under its books);
  *  - `path/codebooks` — the residual PQ codebooks, PINNED at build;
  *  - `path/meta` — (residual): the coding convention;
  *  - `path/lists` — (cid, cell, codes, vfp) with the xxhash64 churn
  *    fingerprint — mSub bytes + a cell id per vector.
  *
  * refresh/upsert ride [[graft.lake.ChurnSplit]]: unchanged vectors
  * carry verbatim, drifted/new ids re-encode under the pinned books,
  * vanished ids drop (refresh) or persist (upsert). The probe serves
  * [[Pq.ivfTopKPqImiFromLists]] off the landed lists — zero training,
  * encoding or assignment at probe time.
  *
  * `build(opq = true)` pins a parametric-OPQ rotation beside the books
  * (the [[PqIndex]] layout: `path/opqbasis`) — the composed
  * rotated+factorized configuration is the one a REAL 10^11-vector
  * serve runs: OPQ balances the per-subspace variance the 8-byte codes
  * must span, IMI keeps the coarse gate's task state at O(√nCells·dim).
  * The rotation helps BOTH halves for the same reason: product cells
  * split the vector axis-wise exactly like PQ subspaces do, so
  * eigen-balanced axes make the cell grid carve the corpus where the
  * variance actually is. Everything downstream — sub-books, residual
  * codebooks, codes, fingerprints, probes — lives in the rotated space,
  * pinned for the index's whole life.
  */
object ImiPqIndex {

  private def sbPath(path: String) = path + "/subbooks"
  private def cbPath(path: String) = path + "/codebooks"
  private def listsPath(path: String) = path + "/lists"

  private def vecFp(vec: org.apache.spark.sql.Column) = xxhash64(vec)

  // the basis layout, loader, fit AND rotation are PqIndex's
  // (`path/opqbasis`, PqIndex.loadBasis/fitBasis/rotated) — one seam,
  // two serving tiers, so a rotation policy change can never drift
  // between the flat and the factorized index
  private def rotated(df: DataFrame, vecCol: String,
                      basis: Option[IndexedSeq[Array[Float]]]): DataFrame =
    PqIndex.rotated(df, vecCol, basis)

  private def listRows(corpus: DataFrame, idCol: String, vecCol: String,
                       imi: IvfImi, model: PqModel): DataFrame =
    Pq.pqListsImi(corpus, idCol, vecCol, imi, model,
      extraCols = Seq(vecFp(col(vecCol)).as("vfp")))

  /** Build from scratch. `nCells` is the product-cell target (k =
    * ⌈√nCells⌉ per side). Returns indexed rows.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nCells: Long, mSub: Int = 8, ks: Int = 256,
            residual: Boolean = true, opq: Boolean = false): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // opq = true pins the eigen-balanced rotation FIRST: sub-books,
    // residual codebooks and codes all train/encode in the rotated
    // space (orthonormal — scored inner products unchanged up to float
    // rounding), exactly the PqIndex convention (shared fit helper)
    val basis = PqIndex.fitBasis(corpus, vecCol, mSub, opq)
    // materialized when rotated — see PqIndex.rotatedMat's plan-size note
    val rc = PqIndex.rotatedMat(corpus, vecCol, basis)
    val imi = IvfImi.train(rc, idCol, vecCol, nCells)
    val model =
      if (residual) Pq.trainResidualImi(rc, idCol, vecCol, imi, mSub, ks)
      else Pq.train(rc, idCol, vecCol, mSub, ks)
    // codebook-sized sidecars as ONE file each (see PqIndex.build note)
    graft.lake.Staged.landMany(spark, path, Seq(
      "subbooks" -> (imi.sub1.zipWithIndex.map { case (c, i) => (1, i, c.toSeq) } ++
        imi.sub2.zipWithIndex.map { case (c, i) => (2, i, c.toSeq) })
        .toDF("side", "idx", "cent").coalesce(1),
      "codebooks" -> model.codebooks.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (cent, c) => (m, c, cent.toSeq) }
      }.toDF("sub", "code", "cent").coalesce(1),
      "meta" -> Seq(residual).toDF("residual").coalesce(1),
      "lists" -> listRows(rc, idCol, vecCol, imi, model)) ++
      basis.map(b => "opqbasis" ->
        b.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toDF("pos", "r")
          .coalesce(1)).toSeq)
    spark.read.parquet(listsPath(path)).count()
  }

  /** The pinned sub-codebooks, collected back √nCells-sized. */
  def loadImi(spark: SparkSession, path: String): IvfImi = {
    val rows = spark.read.parquet(sbPath(path))
      .orderBy(col("side"), col("idx")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
    IvfImi(rows.filter(_._1 == 1).map(_._2).toIndexedSeq,
      rows.filter(_._1 == 2).map(_._2).toIndexedSeq)
  }

  /** The pinned PQ codebooks + coding convention (mu stays empty — the
    * IMI serve derives it from the sub-codebooks).
    */
  def loadModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(cbPath(path))
      .orderBy(col("sub"), col("code")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
    val books = rows.groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_._2).toIndexedSeq }
    val residual = spark.read.parquet(path + "/meta").collect().head.getBoolean(0)
    PqModel(books.head.head.length, books, residual)
  }

  /** Churn-proportional refresh under the PINNED books. Returns
    * (keptRows, signedRows).
    */
  def refresh(corpus: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) =
    churn(corpus, idCol, vecCol, path, ChurnSplit.Refresh)

  /** Delta upsert — the batch's vectors re-encode (or carry if
    * unchanged); out-of-batch rows untouched. Returns (carried, signed).
    */
  def upsert(batch: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) =
    churn(batch, idCol, vecCol, path, ChurnSplit.Upsert)

  private def churn(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                    mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = corpus.sparkSession
    // independent sidecar loads overlap (guide §2.6, graft.core.Overlap)
    val fImi = graft.core.Overlap.par(loadImi(spark, path))
    val fModel = graft.core.Overlap.par(loadModel(spark, path))
    val fBasis = graft.core.Overlap.par(PqIndex.loadBasis(spark, path))
    // rotate BEFORE the churn split: fingerprints were signed over the
    // rotated vectors at build, so unchanged rows must re-hash equal.
    // Materialized — see PqIndex.rotatedMat's plan-size note
    val rc = PqIndex.rotatedMat(corpus, vecCol, graft.core.Overlap.await(fBasis))
    val imi = graft.core.Overlap.await(fImi)
    val model = graft.core.Overlap.await(fModel)
    val s = ChurnSplit.split(spark.read.parquet(listsPath(path)), "cid", "vfp",
      rc, idCol, vecFp(rc(vecCol)))
    ChurnSplit.land(spark, listsPath(path), s,
      listRows(s.fresh, idCol, vecCol, imi, model), mode)
  }

  /** IMI-PQ top-k served FROM the persisted index — identical result
    * to the recompute form under the same (deterministic) books.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           path: String, k: Int, nProbe: Int, margin: Int): DataFrame = {
    val spark = corpus.sparkSession
    // an OPQ index probes in its pinned rotated space — corpus AND
    // queries rotate, so side LUTs, ADC tables and the exact re-rank
    // all score the same (orthonormally preserved) inner products
    // overlapped loads — see churn
    val fImi = graft.core.Overlap.par(loadImi(spark, path))
    val fModel = graft.core.Overlap.par(loadModel(spark, path))
    val basis = PqIndex.loadBasis(spark, path)
    // queries materialize (small, many-referenced by the probe
    // expression); the corpus rotation stays lazy — referenced once by
    // the re-rank fetch (see PqIndex.topK's note)
    Pq.ivfTopKPqImiFromLists(graft.core.Overlap.await(fImi),
      graft.core.Overlap.await(fModel),
      spark.read.parquet(listsPath(path)).select(col("cid"), col("cell"), col("codes")),
      rotated(corpus, vecCol, basis), PqIndex.rotatedMat(queries, vecCol, basis),
      idCol, vecCol, k, nProbe, margin)
  }
}
