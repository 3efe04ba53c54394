package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.ChurnSplit

/** Persisted IVF-PQ index — the 8-bytes-per-vector serving tier as a
  * lake artifact (the [[SimilarityIndex]] posture applied to
  * [[Pq]]): built once, churn-refreshed, probed many times. At 100 TB
  * this is the index whose LISTS fit serving RAM — mSub bytes + a cell
  * id per vector (0.8 TB at 10^11 vectors for PQ8x256) against SQ8's
  * 6.4 TB, at the cost of the re-rank pool's recall contract instead
  * of SQ8's per-candidate error bound.
  *
  * Layout at `path` (all staged-swap, never torn):
  *  - `path/centroids` — the IVF codebook (cell_id, cv), PINNED at
  *    build (refresh never retrains — assignments stay comparable
  *    across drops; retraining is an explicit rebuild);
  *  - `path/codebooks` — the PQ codebooks, one row per (sub, code)
  *    with its dsub-dim centroid, PINNED at build for the same reason:
  *    codes written under one codebook must stay decodable by it;
  *  - `path/lists` — one row per corpus vector: (cid, cell, codes,
  *    vfp) where codes is the mSub-byte PQ word and vfp the xxhash64
  *    churn fingerprint (the [[SimilarityIndex]] trade: a changed
  *    vector escaping re-encoding needs an exact 64-bit collision);
  *  - `path/opqbasis` (optional, `build(opq = true)`) — the pinned
  *    parametric-OPQ rotation rows: every later encode and probe
  *    rotates into this basis first, so codes, fingerprints and scores
  *    stay in one consistent space across the index's whole life.
  *
  * refresh/upsert ride the shared churn seam
  * ([[graft.lake.ChurnSplit]]): unchanged vectors' list rows carry
  * verbatim, only drifted/new ids re-encode under the pinned
  * codebooks, vanished ids drop (refresh) or persist (upsert). The
  * probe serves [[Pq.ivfTopKPqFromLists]] straight off the landed
  * lists — zero training, encoding or assignment at probe time.
  */
object PqIndex {

  private def centsPath(path: String) = path + "/centroids"
  private def cbPath(path: String) = path + "/codebooks"
  private def listsPath(path: String) = path + "/lists"
  private def basisPath(path: String) = path + "/opqbasis"

  private def vecFp(vec: org.apache.spark.sql.Column) = xxhash64(vec)

  /** The pinned OPQ rotation, if this index was built with one —
    * subspace-major rows, collected back dim-sized. Pinned at build
    * like the codebooks: codes written under one rotation are never
    * scored under another, across every later refresh/upsert/probe.
    */
  def loadBasis(spark: SparkSession, path: String): Option[IndexedSeq[Array[Float]]] = {
    val p = new org.apache.hadoop.fs.Path(basisPath(path))
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(spark.read.parquet(basisPath(path))
      .orderBy(col("pos")).collect()
      .map(_.getSeq[Float](1).toArray).toIndexedSeq)
  }

  /** Rotate `vecCol` into the index's basis (identity when none) —
    * applied to the corpus at encode time and to corpus+queries at
    * probe time, so fingerprints, codes and scores all live in ONE
    * consistent space. Shared with [[ImiPqIndex]] — the basis layout
    * (`path/opqbasis`), its loader and this rotation are ONE seam
    * serving both the flat and the factorized tier, so a rotation
    * policy change can never drift between them.
    */
  private[ops] def rotated(df: DataFrame, vecCol: String,
                           basis: Option[IndexedSeq[Array[Float]]]): DataFrame =
    basis.fold(df)(b =>
      df.withColumn(vecCol, Pq.opqRotateExpr(col(vecCol), b)))

  /** [[rotated]], MATERIALIZED when a basis applies (identity pass-
    * through when none). The rotation is a dim² tree of plan literals;
    * leaving it lazy substitutes that tree into EVERY downstream
    * reference of the vector column — `ivfCell`/`imiCell`/probe
    * expressions reference the vector 10-20×, so the encode/train
    * plans blow up to ~100k-node expression trees whose ANALYSIS and
    * codegen dominate the wall (measured: trainResidualFlat on a lazy
    * rotated frame 3.8 s vs ~1 s materialized, at 2k rows — the cost
    * is per-plan, not per-row). One eager localCheckpoint collapses
    * the column to a plain attribute for every later pass; the frames
    * this is applied to are consumed by several passes within one
    * build/refresh call, so the materialization also removes repeated
    * rotation evaluation (optimization guide §3.3 "materialise an
    * intermediate to truncate the plan", §5 reuse-justified caching).
    */
  private[ops] def rotatedMat(df: DataFrame, vecCol: String,
                              basis: Option[IndexedSeq[Array[Float]]]): DataFrame =
    if (basis.isEmpty) df else rotated(df, vecCol, basis).localCheckpoint(true)

  /** Fit the parametric-OPQ basis for a build (`None` when `opq` is
    * off): full-dim PCA then eigenvalue allocation across the `mSub`
    * subspaces. Shared by [[build]] and [[ImiPqIndex.build]] for the
    * same one-seam reason as [[rotated]].
    */
  private[ops] def fitBasis(corpus: DataFrame, vecCol: String, mSub: Int,
                            opq: Boolean): Option[IndexedSeq[Array[Float]]] =
    if (!opq) None
    else {
      val dim = corpus.select(size(col(vecCol))).head().getInt(0)
      Some(Pq.opqBasis(Pca.fit(corpus, vecCol, dim, dim), mSub))
    }

  private def listRows(corpus: DataFrame, idCol: String, vecCol: String,
                       cents: Seq[(Long, Seq[Float])], model: PqModel): DataFrame =
    Pq.pqLists(corpus, idCol, vecCol, cents, model,
      extraCols = Seq(vecFp(col(vecCol)).as("vfp")))

  /** Build from scratch: seeded IVF codebook + PQ codebooks over
    * `corpus`, then the full coded lists. Returns indexed rows.
    * `residual = true` (default — the production IVFADC posture) trains
    * the codebooks on x − μ_cell and pins the convention in `meta`:
    * codes written under one convention are never scored under the
    * other, across every later refresh/upsert/probe.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nList: Int, mSub: Int = 8, ks: Int = 256,
            residual: Boolean = true, opq: Boolean = false): Long = {
    // refuse the flat layout past the task-state budget BEFORE any
    // training work — the factorized ImiPqIndex is the route there
    Pq.requireFlatBudget(nList, "PqIndex.build")
    val spark = corpus.sparkSession
    import spark.implicits._
    // `opq = true` pins a parametric-OPQ rotation (Ge et al. 2013) at
    // build: everything downstream — centroids, residual means, codes,
    // fingerprints, probes — lives in the rotated space, where each
    // subspace holds a balanced share of the corpus variance.
    // Orthonormal, so the scored inner products are unchanged up to
    // float rounding.
    val basis = fitBasis(corpus, vecCol, mSub, opq)
    val rc = rotatedMat(corpus, vecCol, basis)
    val cents = Similarity.ivfCentroids(rc, idCol, vecCol, nList)
    val model =
      if (residual) Pq.trainResidualFlat(rc, idCol, vecCol, cents, mSub, ks)
      else Pq.train(rc, idCol, vecCol, mSub, ks)
    // the codebook-sized sidecars write as ONE file each (guide §6:
    // they were split across defaultParallelism near-empty files, each
    // re-listed + footer-read by every later load); lists stay wide
    graft.lake.Staged.landMany(spark, path, Seq(
      "centroids" -> cents.map { case (id, v) => (id, v) }.toDF("cell_id", "cv")
        .coalesce(1),
      "codebooks" -> model.codebooks.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (cent, c) => (m, c, cent.toSeq) }
      }.toDF("sub", "code", "cent").coalesce(1),
      "meta" -> Seq(residual).toDF("residual").coalesce(1),
      // the residual subtraction reference (per-cell means with
      // centroid fallback), PINNED at build exactly like the
      // codebooks: refreshed corpora must keep decoding old codes
      "cellmeans" -> model.mu.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("cell_id", "mv").coalesce(1),
      "lists" -> listRows(rc, idCol, vecCol, cents, model)) ++
      basis.map(b => "opqbasis" ->
        b.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toDF("pos", "r")
          .coalesce(1)).toSeq)
    spark.read.parquet(listsPath(path)).count()
  }

  /** The pinned IVF codebook, collected back codebook-sized. The
    * task-state budget rides the SAME pass as the load (the
    * [[graft.ops.Similarity.collectBounded]] trick: collect at most
    * bound+1 rows, then refuse on overflow), so an index written by
    * some other writer past [[Pq.MaxFlatNList]] refuses with the
    * routing message without dragging GBs to the driver — and a
    * legitimate load doesn't pay a second parquet scan just to prove
    * it's in budget.
    */
  def loadCentroids(spark: SparkSession, path: String): Seq[(Long, Seq[Float])] = {
    val rows = spark.read.parquet(centsPath(path)).orderBy(col("cell_id"))
      .limit(Pq.MaxFlatNList + 1).collect()
    Pq.requireFlatBudget(rows.length, "PqIndex.loadCentroids")
    rows.toIndexedSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
  }

  /** The pinned PQ codebooks, collected back codebook-sized. The
    * residual flag comes from `meta` (an index written before the meta
    * table existed is raw by construction).
    */
  def loadModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(cbPath(path))
      .orderBy(col("sub"), col("code")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
    val books = rows.groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_._2).toIndexedSeq }
    val metaP = new org.apache.hadoop.fs.Path(path + "/meta")
    val residual =
      metaP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(metaP) &&
        spark.read.parquet(path + "/meta").collect().head.getBoolean(0)
    val mu =
      if (!residual) Map.empty[Long, Array[Float]]
      else {
        // bound enforced in the SAME pass as the load (see loadCentroids)
        val mrows = spark.read.parquet(path + "/cellmeans")
          .orderBy(col("cell_id")).limit(Pq.MaxFlatNList + 1).collect()
        Pq.requireFlatBudget(mrows.length, "PqIndex.loadModel cellmeans")
        mrows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      }
    PqModel(books.head.head.length, books, residual, mu)
  }

  /** Churn-proportional refresh under the PINNED codebooks: carry
    * unchanged vectors' list rows verbatim, encode only new/changed
    * ids, drop vanished ones. Returns (keptRows, signedRows).
    */
  def refresh(corpus: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) =
    churn(corpus, idCol, vecCol, path, ChurnSplit.Refresh)

  /** Delta upsert — add or replace exactly the batch's vectors under
    * the pinned codebooks; out-of-batch rows untouched, re-delivered
    * unchanged vectors carry verbatim. Returns (carried, signed).
    */
  def upsert(batch: DataFrame, idCol: String, vecCol: String, path: String)
      : (Long, Long) =
    churn(batch, idCol, vecCol, path, ChurnSplit.Upsert)

  private def churn(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                    mode: ChurnSplit.Mode): (Long, Long) = {
    val spark = corpus.sparkSession
    // the three sidecar loads are independent tiny read jobs — overlap
    // them (guide §2.6 via graft.core.Overlap)
    val fCents = graft.core.Overlap.par(loadCentroids(spark, path))
    val fModel = graft.core.Overlap.par(loadModel(spark, path))
    val fBasis = graft.core.Overlap.par(loadBasis(spark, path))
    // rotate BEFORE the churn split: fingerprints were signed over the
    // rotated vectors at build, so unchanged rows must re-hash equal.
    // Materialized (rotatedMat): the split + fresh-row encode reference
    // the rotated column several times — see rotatedMat's plan-size note
    val rc = rotatedMat(corpus, vecCol, graft.core.Overlap.await(fBasis))
    val cents = graft.core.Overlap.await(fCents)
    val model = graft.core.Overlap.await(fModel)
    val s = ChurnSplit.split(spark.read.parquet(listsPath(path)), "cid", "vfp",
      rc, idCol, vecFp(rc(vecCol)))
    ChurnSplit.land(spark, listsPath(path), s,
      listRows(s.fresh, idCol, vecCol, cents, model), mode)
  }

  /** IVF-PQ top-k served FROM the persisted index: identical result to
    * the recompute form under the same (deterministic) codebooks; zero
    * training, encoding or cell assignment at probe time.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           path: String, k: Int, nProbe: Int, margin: Int): DataFrame = {
    val spark = corpus.sparkSession
    // an OPQ index probes in its pinned rotated space — corpus AND
    // queries rotate, so ADC tables, codes and the exact re-rank all
    // score the same (orthonormally preserved) inner products
    // overlapped loads — see churn
    val fCents = graft.core.Overlap.par(loadCentroids(spark, path))
    val fModel = graft.core.Overlap.par(loadModel(spark, path))
    val basis = loadBasis(spark, path)
    // queries rotate MATERIALIZED (small by the broadcast-pool
    // contract; the probe expression references the query vector many
    // times — rotatedMat's plan-size note). The corpus side stays a
    // LAZY rotation: it is referenced once (the re-rank full fetch),
    // and a zero-work serve must not pay a corpus materialization.
    Pq.ivfTopKPqFromLists(graft.core.Overlap.await(fCents),
      graft.core.Overlap.await(fModel),
      spark.read.parquet(listsPath(path)).select(col("cid"), col("cell"), col("codes")),
      rotated(corpus, vecCol, basis), rotatedMat(queries, vecCol, basis),
      idCol, vecCol, k, nProbe, margin)
  }
}
