package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained product-quantization codebooks: `codebooks(m)(c)` is the
  * `dsub`-dim centroid for code `c` of subspace `m` (subspaces are
  * contiguous slices of the vector). Codebooks may be ragged — a
  * subspace with fewer than `ks` distinct training subvectors trains a
  * smaller codebook; codes always index within their own subspace.
  *
  * `residual = true` marks an IVFADC-style model: codes quantize
  * x − μ_cell where μ is `mu(cell)` — the cell's TRUE decimal-exact
  * mean under the pinned gate (falling back to the gate centroid for
  * cells empty at training). The mean matters: subtracting a seeded
  * SAMPLE centroid (an arbitrary corpus vector) ADDS variance on
  * isotropic data (Var(x − v) ≈ 2σ²) and measurably hurt recall when
  * first tried; the mean minimizes within-cell energy by construction,
  * so residual coding can only shrink what the 256 codes must span.
  * `mu` rides the model so lists encoded under one reference are never
  * scored under another.
  */
final case class PqModel(dsub: Int,
                         codebooks: IndexedSeq[IndexedSeq[Array[Float]]],
                         residual: Boolean = false,
                         mu: Map[Long, Array[Float]] = Map.empty)
    extends Serializable {
  def mSub: Int = codebooks.length
}

/** Product-quantization ANN (Jégou, Douze & Schmid, "Product
  * quantization for nearest neighbor search", TPAMI 2011 — public):
  * the memory lever one step past the SQ8 tier. SQ8 stores 1 byte per
  * COMPONENT (64 B at dim 64); PQ stores 1 byte per SUBSPACE (8 B at
  * mSub = 8) — at 10^11 vectors the candidate codes drop from 6.4 TB
  * to 0.8 TB, the difference between a disk-bound and a RAM-resident
  * serving tier.
  *
  * Scale shape mirrors [[Similarity.ivfTopKInt8FromLists]]: IVF cells
  * bound the candidate set (corpus·nProbe/nList rows through ONE
  * equi-join shuffle, never corpus·queries), candidates are scored by
  * compiled ADC ([[graft.functions.PqAdc]] — a per-query lookup table
  * built once, mSub table ADDS per candidate), and only a
  * (k + margin)-row pool per query fetches full-precision vectors for
  * the exact-decimal decider. Unlike SQ8's affine bound, PQ
  * reconstruction error has no tight per-candidate envelope, so the
  * pool is a fixed re-rank margin (the standard IVFADC posture;
  * recall is pinned by the board floor like every approximate tier).
  *
  * Determinism: training samples by seeded hash order, initializes
  * each subspace from its first `ks` DISTINCT subvectors, and runs a
  * fixed number of sequential-fold Lloyd iterations — bit-reproducible
  * for a given corpus, no RNG, no schedule dependence (the same
  * contract as [[IvfHier.train]]).
  */
object Pq {

  /** Train PQ codebooks on a seeded-hash sample of the corpus.
    * `mSub` must divide the dimension; `ks` ≤ 256 (codes are bytes).
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            mSub: Int = 8, ks: Int = 256, seed: Int = 42,
            iters: Int = 8, trainN0: Int = 0): PqModel = {
    require(mSub >= 1, s"mSub must be >= 1: $mSub")
    require(ks >= 1 && ks <= 256, s"ks must be in [1, 256]: $ks")
    val trainN = if (trainN0 > 0) trainN0 else math.max(4096, ks * 32)
    // `seed` is a SALT COLUMN under murmur hash (the second hash input),
    // not the murmur seed itself — the same sampling shape as
    // ivfCentroidsKMeans; changing it still reshuffles the sample order
    // deterministically. The collect rides the repo-wide bounded-driver-
    // traffic contract (collectBounded fails loudly past trainN).
    val rows = Similarity.collectBounded(corpus
      .select(col(vecCol).as("__v"),
        hash(col(idCol).cast("long"), lit(seed)).as("__h"),
        col(idCol).cast("long").as("__id"))
      .orderBy(col("__h"), col("__id"))
      .limit(trainN)
      .select(col("__v")), trainN, "pq codebook sample")
    require(rows.nonEmpty, "pq training needs a non-empty corpus")
    val sample = rows.map(_.getSeq[Float](0).toArray)
    PqModel(sample.head.length / mSub,
      fitCodebooks(sample, mSub, ks, iters), residual = false)
  }

  /** Train RESIDUAL codebooks (the IVFADC posture): the sample carries
    * each vector's cell under the SAME compiled assignment the encode
    * path uses, and the codebooks fit x − mu(cell). `cellOf` is the
    * cell expression ([[Similarity.ivfCell]] / [[Similarity.hierCell]]);
    * `mu` the per-cell subtraction reference ([[residualRefFlat]] /
    * [[residualRefHier]] — true cell means with centroid fallback).
    * Flat/hier wrappers below. `mu` is by-name: the reference (a
    * cell-means aggregate over the corpus) and the training sample (a
    * seeded top-n collect over the corpus) are independent jobs, so
    * they overlap (guide §2.6 via [[graft.core.Overlap.both]]; both are
    * deterministic alone, so the model bits are unchanged).
    */
  def trainResidualWith(corpus: DataFrame, idCol: String, vecCol: String,
                        cellOf: Column => Column, mu: => Map[Long, Array[Float]],
                        mSub: Int = 8, ks: Int = 256, seed: Int = 42,
                        iters: Int = 8, trainN0: Int = 0): PqModel = {
    require(mSub >= 1, s"mSub must be >= 1: $mSub")
    require(ks >= 1 && ks <= 256, s"ks must be in [1, 256]: $ks")
    val trainN = if (trainN0 > 0) trainN0 else math.max(4096, ks * 32)
    val (rows, muV) = graft.core.Overlap.both(
      Similarity.collectBounded(corpus
        .select(col(vecCol).as("__v"),
          cellOf(col(vecCol)).cast("long").as("__c"),
          hash(col(idCol).cast("long"), lit(seed)).as("__h"),
          col(idCol).cast("long").as("__id"))
        .orderBy(col("__h"), col("__id"))
        .limit(trainN)
        .select(col("__v"), col("__c")), trainN, "residual pq codebook sample"),
      mu)
    require(rows.nonEmpty, "pq training needs a non-empty corpus")
    val sample = rows.map { r =>
      val v = r.getSeq[Float](0).toArray
      val m = muV.getOrElse(r.getLong(1),
        throw new IllegalArgumentException(s"residual pq train: unknown cell ${r.getLong(1)}"))
      Array.tabulate(v.length)(j => (v(j).toDouble - m(j).toDouble).toFloat)
    }
    PqModel(sample.head.length / mSub,
      fitCodebooks(sample, mSub, ks, iters), residual = true, mu = muV)
  }

  /** Flat-IVF residual trainer (reference = pinned-gate cell means). */
  def trainResidualFlat(corpus: DataFrame, idCol: String, vecCol: String,
                        cents: Seq[(Long, Seq[Float])], mSub: Int = 8,
                        ks: Int = 256, seed: Int = 42, iters: Int = 8,
                        trainN0: Int = 0): PqModel =
    trainResidualWith(corpus, idCol, vecCol,
      v => Similarity.ivfCell(v, cents),
      residualRefFlat(corpus, idCol, vecCol, cents),
      mSub, ks, seed, iters, trainN0)

  /** Hier-cell residual trainer (cells are fine-codebook indexes). */
  def trainResidualHier(corpus: DataFrame, idCol: String, vecCol: String,
                        hier: IvfHier, mSub: Int = 8, ks: Int = 256,
                        seed: Int = 42, iters: Int = 8, trainN0: Int = 0): PqModel =
    trainResidualWith(corpus, idCol, vecCol,
      v => Similarity.hierCell(v, hier),
      residualRefHier(corpus, idCol, vecCol, hier),
      mSub, ks, seed, iters, trainN0)

  /** Product-cell (IMI) residual trainer: μ is the IMPLICIT product
    * centroid [sub1_i ++ sub2_j] — derived per sample on the driver,
    * never materialized as a per-cell map (nCells can be 10^6+; the
    * model's `mu` stays EMPTY and the Imi serve surfaces derive it from
    * the sub-codebooks).
    */
  def trainResidualImi(corpus: DataFrame, idCol: String, vecCol: String,
                       imi: IvfImi, mSub: Int = 8, ks: Int = 256,
                       seed: Int = 42, iters: Int = 8, trainN0: Int = 0): PqModel = {
    require(mSub >= 1, s"mSub must be >= 1: $mSub")
    require(ks >= 1 && ks <= 256, s"ks must be in [1, 256]: $ks")
    val trainN = if (trainN0 > 0) trainN0 else math.max(4096, ks * 32)
    val rows = Similarity.collectBounded(corpus
      .select(col(vecCol).as("__v"),
        Similarity.imiCell(col(vecCol), imi).cast("long").as("__c"),
        hash(col(idCol).cast("long"), lit(seed)).as("__h"),
        col(idCol).cast("long").as("__id"))
      .orderBy(col("__h"), col("__id"))
      .limit(trainN)
      .select(col("__v"), col("__c")), trainN, "imi residual pq codebook sample")
    require(rows.nonEmpty, "pq training needs a non-empty corpus")
    val sample = rows.map { r =>
      val v = r.getSeq[Float](0).toArray
      val m = imi.mu(r.getLong(1))
      Array.tabulate(v.length)(j => (v(j).toDouble - m(j).toDouble).toFloat)
    }
    PqModel(sample.head.length / mSub,
      fitCodebooks(sample, mSub, ks, iters), residual = true, mu = Map.empty)
  }

  // ------------------------------------------------ parametric OPQ

  /** Eigenvalue allocation of parametric OPQ (Ge, Ke & Sun, "Optimized
    * Product Quantization", CVPR 2013 §4 — public): assign the PCA
    * dimensions, in DESCENDING eigenvalue order, to the non-full
    * subspace with the smallest running log-product of eigenvalues
    * (ties to the lowest subspace index). Balancing the variance
    * PRODUCT across subspaces is the paper's closed-form optimum for
    * Gaussian data — each codebook then spans a comparable share of
    * the corpus energy, where naive dimension-order splitting can hand
    * one subspace all the variance and another none. Deterministic:
    * pure arithmetic on the fit's canonical eigen order.
    */
  def opqAllocate(eigenvalues: Seq[Double], mSub: Int): Seq[Seq[Int]] = {
    val dim = eigenvalues.length
    require(mSub >= 1 && dim % mSub == 0,
      s"opqAllocate: mSub=$mSub must divide dim=$dim")
    val dsub = dim / mSub
    val buckets = Array.fill(mSub)(List.empty[Int])
    val logSum = new Array[Double](mSub)
    eigenvalues.indices.foreach { k =>
      val best = (0 until mSub).filter(b => buckets(b).length < dsub)
        .minBy(b => (logSum(b), b))
      buckets(best) = k :: buckets(best)
      logSum(best) += math.log(math.max(eigenvalues(k), 1e-12))
    }
    buckets.map(_.reverse).toSeq
  }

  /** The OPQ rotation rows (subspace-major): the PCA components
    * reordered by [[opqAllocate]]. Orthonormal, so the serve's inner
    * products are preserved exactly up to float rounding — the exact
    * re-rank still decides, the rotation only improves what the 8-byte
    * codes can span.
    */
  def opqBasis(model: Pca.PcaModel, mSub: Int): IndexedSeq[Array[Float]] =
    opqAllocate(model.eigenvalues, mSub)
      .flatten.map(k => model.components(k).map(_.toFloat).toArray).toIndexedSeq

  /** Rotate a float-vector column into an OPQ basis: one codegen'd
    * [[graft.functions.DotFloat]] per output dimension against a
    * plan-inlined float row (dim² multiplies per row, fused into
    * whole-stage codegen — the same shape as [[Pca.projectExpr]]).
    */
  def opqRotateExpr(v: Column, basis: IndexedSeq[Array[Float]]): Column =
    array(basis.map { row =>
      graft.functions.DotFloat.dot_float(v, array(row.map(x => lit(x)): _*))
    }: _*).cast("array<float>")

  /** Cell-centroid lookup maps. */
  def centsMap(cents: Seq[(Long, Seq[Float])]): Map[Long, Array[Float]] =
    cents.map { case (id, v) => id -> v.toArray }.toMap
  def hierCentsMap(hier: IvfHier): Map[Long, Array[Float]] =
    hier.fine.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap

  /** The residual subtraction reference: per-cell TRUE means under the
    * pinned flat gate, overlaid on the gate centroids (fallback for
    * cells with no member at reference time — any pinned vector works
    * as an offset; the mean is just the variance-minimizing one).
    */
  def residualRefFlat(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Seq[(Long, Seq[Float])]): Map[Long, Array[Float]] =
    centsMap(cents) ++ cellMeans(corpus, vecCol,
      Similarity.ivfCell(col(vecCol), cents), cents.size)

  /** [[residualRefFlat]] under the hierarchical gate. */
  def residualRefHier(corpus: DataFrame, idCol: String, vecCol: String,
                      hier: IvfHier): Map[Long, Array[Float]] =
    hierCentsMap(hier) ++ cellMeans(corpus, vecCol,
      Similarity.hierCell(col(vecCol), hier), hier.nList)

  /** Deterministic per-cell component means: DECIMAL(25,15) sums (order
    * independent — the same exactness trick as the PCA moments) as dim
    * parallel aggregate columns over ONE map-side-combined pass,
    * codebook-sized result collected under the bounded-driver contract.
    * Deliberately NOT a posexplode: with a Generate in the plan the
    * optimizer collapses the assignment projection into the exploded
    * stream and re-evaluates the decimal ivfCell per ELEMENT — a
    * measured 30× blowup (17 s vs 0.6 s on the sf0.1 fixture); the
    * column-wise aggregate keeps the cell expression once per ROW.
    */
  private def cellMeans(corpus: DataFrame, vecCol: String, cellExpr: Column,
                        nCells: Int): Map[Long, Array[Float]] = {
    requireFlatBudget(nCells, "pq residual cell means")
    val dim = corpus.select(size(col(vecCol)).as("d")).head().getInt(0)
    val aggs = (0 until dim).map(i =>
      (sum(element_at(col("__v"), i + 1).cast("decimal(25,15)")) / count(lit(1)))
        .cast("double").as(s"__m$i"))
    val rows = Similarity.collectBounded(corpus
      .select(cellExpr.cast("long").as("__cell"), col(vecCol).as("__v"))
      .groupBy(col("__cell"))
      .agg(aggs.head, aggs.tail: _*),
      nCells, "pq residual cell means")
    rows.map(r => r.getLong(0) ->
      Array.tabulate(dim)(i => r.getDouble(i + 1).toFloat)).toMap
  }

  /** The shared subspace-Lloyd fit over a driver-resident sample (raw
    * vectors or residuals — the loop is identical).
    */
  private def fitCodebooks(sample: Array[Array[Float]], mSub: Int, ks: Int,
                           iters: Int): IndexedSeq[IndexedSeq[Array[Float]]] = {
    val dim = sample.head.length
    require(dim % mSub == 0, s"mSub=$mSub must divide dim=$dim")
    val dsub = dim / mSub
    IndexedSeq.tabulate(mSub) { m =>
      val off = m * dsub
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      // init: first ks DISTINCT subvectors in sampled order (duplicate
      // centroids would tie every assignment they touch)
      val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Float]]
      subs.iterator.takeWhile(_ => seen.size < ks).foreach(s => seen += s.toSeq)
      var cents: IndexedSeq[Array[Double]] =
        seen.iterator.map(_.toArray.map(_.toDouble)).toIndexedSeq
      val kEff = cents.length
      var it = 0
      while (it < iters && kEff > 1) {
        val sums = Array.fill(kEff)(new Array[Double](dsub))
        val cnts = new Array[Long](kEff)
        subs.foreach { s =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < kEff) {
            var d = 0.0
            var j = 0
            while (j < dsub) {
              val x = s(j).toDouble - cents(c)(j); d += x * x; j += 1
            }
            if (d < bestD) { best = c; bestD = d }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += s(j); j += 1 }
          cnts(best) += 1
        }
        cents = IndexedSeq.tabulate(kEff) { c =>
          if (cnts(c) == 0L) cents(c)
          else Array.tabulate(dsub)(j => sums(c)(j) / cnts(c))
        }
        it += 1
      }
      cents.map(_.map(_.toFloat))
    }
  }

  /** The IVF-PQ inverted lists in their landable form: one row per
    * corpus vector, (cid, cell, codes) — mSub BYTES of payload per
    * vector plus the cell id; the float vector never rides the lists.
    * A residual model encodes x − μ_cell (the cell is computed first
    * and feeds the compiled residual encoder).
    */
  def pqLists(corpus: DataFrame, idCol: String, vecCol: String,
              cents: Seq[(Long, Seq[Float])], model: PqModel,
              extraCols: Seq[Column] = Nil): DataFrame = {
    requireFlatBudget(cents.size, "pqLists")
    if (!model.residual)
      corpus.select(Seq(col(idCol).as("cid"),
        Similarity.ivfCell(col(vecCol), cents).as("cell"),
        graft.functions.PqCodes.pq_codes(col(vecCol), model).as("codes")) ++ extraCols: _*)
    else {
      require(model.mu.nonEmpty,
        "residual model with an empty mu map — an IMI-residual model serves " +
          "through pqListsImi/ivfTopKPqImi, not the flat-cell surfaces")
      corpus.select(Seq(col(idCol).as("cid"),
          Similarity.ivfCell(col(vecCol), cents).as("cell"),
          col(vecCol).as("__v")) ++ extraCols: _*)
        .withColumn("codes", graft.functions.PqCodes.pq_codes_res(
          col("__v"), col("cell"), model, model.mu))
        .drop("__v")
    }
  }

  /** IVF-PQ top-k with tier-default codebooks: seeded IVF cells for the
    * candidate gate, PQ trained on the corpus sample. `residual = true`
    * (the default) trains/encodes/serves the IVFADC residual form —
    * better recall at the same 8 bytes; `false` keeps the raw-vector
    * codes (the A/B baseline the spec pins).
    */
  def ivfTopKPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nList: Int, nProbe: Int,
                margin: Int, mSub: Int = 8, ks: Int = 256,
                residual: Boolean = true): DataFrame = {
    requireFlatBudget(nList, "ivfTopKPq")
    val cents = Similarity.ivfCentroids(corpus, idCol, vecCol, nList)
    val model =
      if (residual) trainResidualFlat(corpus, idCol, vecCol, cents, mSub, ks)
      else train(corpus, idCol, vecCol, mSub, ks)
    // one-shot form: materialize the freshly-encoded lists before the
    // serve tail — the serve's join/window stages otherwise re-evaluate
    // the assignment+encode subplan (measured ~5× on the fixture); the
    // landed-lists production path (PqIndex.topK) never builds them here
    ivfTopKPqFromLists(cents, model,
      pqLists(corpus, idCol, vecCol, cents, model).localCheckpoint(true),
      corpus, queries, idCol, vecCol, k, nProbe, margin)
  }

  /** The PQ lists under the HIERARCHICAL cell assignment — the
    * corpus-scaled sibling of [[pqLists]]: cells stay ≈targetCellSize
    * as the corpus grows (nList follows n) while each list row still
    * carries only mSub bytes of payload.
    */
  def pqListsHier(corpus: DataFrame, idCol: String, vecCol: String,
                  hier: IvfHier, model: PqModel,
                  extraCols: Seq[Column] = Nil): DataFrame = {
    requireFlatBudget(hier.nList, "pqListsHier")
    if (!model.residual)
      corpus.select(Seq(col(idCol).as("cid"),
        Similarity.hierCell(col(vecCol), hier).as("cell"),
        graft.functions.PqCodes.pq_codes(col(vecCol), model).as("codes")) ++ extraCols: _*)
    else {
      require(model.mu.nonEmpty,
        "residual model with an empty mu map — an IMI-residual model serves " +
          "through pqListsImi/ivfTopKPqImi, not the hier-cell surfaces")
      corpus.select(Seq(col(idCol).as("cid"),
          Similarity.hierCell(col(vecCol), hier).as("cell"),
          col(vecCol).as("__v")) ++ extraCols: _*)
        .withColumn("codes", graft.functions.PqCodes.pq_codes_res(
          col("__v"), col("cell"), model, model.mu))
        .drop("__v")
    }
  }

  /** The PQ lists under PRODUCT (IMI) cells — the 10^10+-vector
    * configuration: nCells follows the corpus at O(√nCells·dim) task
    * state, each list row carries mSub bytes. A residual model encodes
    * x − [sub1_i ++ sub2_j] with the reference DERIVED per row (no
    * per-cell map anywhere).
    */
  def pqListsImi(corpus: DataFrame, idCol: String, vecCol: String,
                 imi: IvfImi, model: PqModel,
                 extraCols: Seq[Column] = Nil): DataFrame =
    if (!model.residual)
      corpus.select(Seq(col(idCol).as("cid"),
        Similarity.imiCell(col(vecCol), imi).as("cell"),
        graft.functions.PqCodes.pq_codes(col(vecCol), model).as("codes")) ++ extraCols: _*)
    else
      corpus.select(Seq(col(idCol).as("cid"),
          Similarity.imiCell(col(vecCol), imi).as("cell"),
          col(vecCol).as("__v")) ++ extraCols: _*)
        .withColumn("codes", graft.functions.PqCodes.pq_codes_imi_res(
          col("__v"), col("cell"), model, imi))
        .drop("__v")

  /** IVF-PQ top-k under the product codebook — the fully factorized
    * 100 TB serve: O(√nCells·dim) assignment state, 8-byte candidate
    * rows, side-factorized residual ADC (q·μ = lut1[i] + lut2[j]), and
    * the shared (k + margin)-pool exact re-rank.
    */
  def ivfTopKPqImi(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, imi: IvfImi, model: PqModel, k: Int,
                   nProbe: Int, margin: Int): DataFrame =
    // one-shot form: materialize the fresh lists (see ivfTopKPq)
    ivfTopKPqImiFromLists(imi, model,
      pqListsImi(corpus, idCol, vecCol, imi, model).localCheckpoint(true),
      corpus, queries, idCol, vecCol, k, nProbe, margin)

  /** [[ivfTopKPqImi]] against caller-supplied (e.g. landed) lists —
    * the serve path that never re-encodes the corpus.
    */
  def ivfTopKPqImiFromLists(imi: IvfImi, model: PqModel, lists: DataFrame,
                            corpus: DataFrame, queries: DataFrame, idCol: String,
                            vecCol: String, k: Int, nProbe: Int,
                            margin: Int): DataFrame = {
    require(k >= 1 && margin >= 0, s"need k >= 1, margin >= 0: $k, $margin")
    require(margin <= MaxRerankMargin,
      s"re-rank margin $margin exceeds MaxRerankMargin=$MaxRerankMargin")
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"),
      explode(Similarity.imiProbeCells(col(vecCol), imi, nProbe)).as("cell"))
    val wadc = Window.partitionBy(col("qid"))
      .orderBy(col("__adc").desc, col("cid").asc)
    val survivors = q
      .join(lists.select(col("cid"), col("cell"), col("codes")), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__adc",
        if (model.residual)
          graft.functions.PqCodes.pq_adc_imi_res(
            col("qid"), col("qv"), col("codes"), col("cell"), model, imi)
        else
          graft.functions.PqCodes.pq_adc(
            col("qid"), col("qv"), col("codes"), model))
      .withColumn("__rank", row_number().over(wadc))
      .filter(col("__rank") <= k + margin)
      .select(col("qid"), col("qv"), col("cid"))
    // shared double-gate rerank over the broadcast pool (see adcPoolRerank)
    val full = corpus.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
    Similarity.exactTopKTail(full.join(broadcast(survivors), Seq("cid")), k)
  }

  /** IVF-PQ top-k under the corpus-scaled two-level codebook — the
    * full 100 TB serving configuration: hier cells bound the candidate
    * set at ≈nProbe·targetCellSize rows per query REGARDLESS of corpus
    * size (the flat gate's candidate count grows as corpus/nList), and
    * each candidate costs mSub table ADDS behind the per-query ADC
    * lookup table. The exact-decimal re-rank pool is fixed (k + margin)
    * like every PQ serve. Recall follows (m, nProbe, margin); the
    * recall board pins this tier's floor beside its siblings.
    */
  def ivfTopKPqHier(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, hier: IvfHier, model: PqModel, k: Int,
                    nProbe: Int, margin: Int): DataFrame = {
    require(k >= 1 && margin >= 0, s"need k >= 1, margin >= 0: $k, $margin")
    requireFlatBudget(hier.nList, "ivfTopKPqHier")
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"),
      explode(Similarity.hierProbeCells(col(vecCol), hier, nProbe)).as("cell"))
    // one-shot form: materialize the fresh lists (see ivfTopKPq)
    adcPoolRerank(q, pqListsHier(corpus, idCol, vecCol, hier, model).localCheckpoint(true),
      corpus, idCol, vecCol, model, k, margin)
  }

  /** IVF-PQ probe against caller-supplied inverted lists (freshly
    * computed or read back from a persisted layout): ADC scores the
    * probed cells' candidates, a (k + margin) pool per query survives,
    * and the exact-decimal decider ranks the pool's full-precision
    * vectors — approximate gate, exact order, like every serving tier.
    */
  def ivfTopKPqFromLists(cents: Seq[(Long, Seq[Float])], model: PqModel,
                         lists: DataFrame, corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int, nProbe: Int,
                         margin: Int): DataFrame = {
    require(k >= 1 && margin >= 0, s"need k >= 1, margin >= 0: $k, $margin")
    requireFlatBudget(cents.size, "ivfTopKPqFromLists")
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"),
      explode(Similarity.ivfProbeCells(col(vecCol), cents, nProbe)).as("cell"))
    adcPoolRerank(q, lists, corpus, idCol, vecCol, model, k, margin)
  }

  /** The shared ADC-pool + exact-re-rank tail: probed queries
    * (qid, qv, cell) equi-join the coded lists, ADC scores the
    * candidates, a (k + margin) pool per query survives, and the
    * exact-decimal decider ranks the pool's full-precision vectors.
    */
  /** Largest re-rank margin any PQ serve accepts: the survivor pool is
    * queries × (k + margin) rows and BROADCAST against the corpus scan,
    * so margin must be an absolute knob, never corpus-proportional (a
    * margin that grows with the corpus grows the broadcast O(n) — the
    * recall FIXTURES do this deliberately at pinned tiny scale; a
    * production serve picks a fixed margin like ScaleSmoke's 64).
    */
  val MaxRerankMargin = 8192

  /** Largest cell count the FLAT/HIER routes accept: their codebook and
    * residual cell-mean reference ride the driver and every task as
    * O(nList·dim) state (at dim 64 the cap is ~32 MB of raw floats —
    * comfortable; 10^6 cells would be GB-scale, the round-16/17 seam).
    * Past this budget the factorized product-coarse route is mandatory
    * ([[IvfImi]] / [[ImiPqIndex]]: two √nList sub-codebooks, O(√nList·
    * dim) task state, exact product-cell assignment/probe) — the guard
    * REFUSES rather than auto-routing because flat kmeans cells and
    * axis-split product cells are different gates with different recall
    * contracts; switching tiers is a caller decision, not a silent one.
    */
  val MaxFlatNList = 65536

  private[ops] def requireFlatBudget(nCells: Long, where: String): Unit =
    require(nCells <= MaxFlatNList,
      s"$where: $nCells cells exceed MaxFlatNList=$MaxFlatNList — the flat " +
        "codebook + cell means are O(nList·dim) driver/task state; past " +
        "this budget build the factorized product-coarse index instead " +
        "(graft.ops.IvfImi / graft.ops.ImiPqIndex, O(√nList·dim) " +
        "task state) or rebuild with fewer cells")

  private def adcPoolRerank(q: DataFrame, lists: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, model: PqModel,
                            k: Int, margin: Int): DataFrame = {
    require(margin <= MaxRerankMargin,
      s"re-rank margin $margin exceeds MaxRerankMargin=$MaxRerankMargin — " +
        "the (k + margin) pool per query is broadcast; margin is an absolute " +
        "knob, not a corpus fraction")
    // sort keys materialized as columns — a window ordered by a computed
    // expression re-evaluates it per COMPARISON (see exactTopKTail)
    val wadc = Window.partitionBy(col("qid"))
      .orderBy(col("__adc").desc, col("cid").asc)
    val survivors = q
      .join(lists.select(col("cid"), col("cell"), col("codes")), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      // residual mode scores q·μ_cell + LUT(residual codes) — the
      // centroid-dot offset is per (query, cell), memoized like the LUT
      .withColumn("__adc",
        if (model.residual)
          graft.functions.PqCodes.pq_adc_res(
            col("qid"), col("qv"), col("codes"), col("cell"), model, model.mu)
        else
          graft.functions.PqCodes.pq_adc(
            col("qid"), col("qv"), col("codes"), model))
      .withColumn("__rank", row_number().over(wadc))
      .filter(col("__rank") <= k + margin)
      .select(col("qid"), col("qv"), col("cid"))
    // full-precision fetch for the pool only; exact decimal decides.
    // Survivors are (k + margin) rows per query — broadcast against the
    // corpus scan so float vectors are never shuffled (the same
    // small-queries contract as bruteTopK). The rerank itself is the
    // SHARED double-gate tail: compiled-dot coarse margin, decimal
    // decides — a straight decimal pass over a large margin pool was
    // the measured wall when fixtures probe gate-complete.
    val full = corpus.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
    Similarity.exactTopKTail(full.join(broadcast(survivors), Seq("cid")), k)
  }
}
