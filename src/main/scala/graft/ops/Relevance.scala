package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus relevance scoring (BM25) — the ranking half of training-data
  * curation: "which documents best match this probe query" drives
  * targeted-domain mixes, seed-set expansion and eval-set mining the
  * same way the quality score drives filtering.
  *
  * Scale shape (the inverted-index probe as dataframes): the ONLY
  * full-corpus work is the tokenize + per-row length scan; everything
  * after `filter(tok in terms)` is proportional to the query terms'
  * posting lists, not the corpus. Per-term document frequencies and the
  * corpus stats are broadcast scalars; the per-(doc, term) contribution
  * is one narrow join; the final score is a fixed-order sum over a
  * pivoted row — no shuffle wider than the matched postings anywhere.
  *
  * Numeric parity: the idf is the RATIONAL BM25 idf
  * `(N - df + 0.5) / (df + 0.5)` rather than the usual `ln` of it —
  * a transcendental would be libm-dependent and break bit-identical
  * cross-engine comparison, while rational arithmetic under one fixed
  * parenthesization is IEEE-deterministic everywhere. Monotone in the
  * true idf, so rankings are BM25 rankings.
  */
object Relevance {

  /** BM25 scores for every document matching >= 1 of `terms`
    * (whitespace-lowercase tokenization, [[TextAnalysis.tokens]]).
    * Returns (idCol, score) — callers order/limit.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be non-empty and distinct")
    // the fixed-order sum pivots ONE agg column per term — right for
    // probe-sized queries, O(terms) in plan width: large term sets go
    // through [[bm25Fold]] (same scores bit-for-bit, constant-width plan)
    require(terms.length <= 64,
      s"bm25 pivots one aggregate column per term (fixed-order summation); " +
        s"got ${terms.length} terms, max 64 — use bm25Fold for large term sets")
    pivotScores(contributions(docs, idCol, textCol, terms, k1, b), idCol, terms)
  }

  /** The fixed-order pivot sum shared by [[bm25]] and
    * [[bm25FromPostings]] — one agg column per term, summed in term
    * order with 0.0 for absences (the IEEE identity), so every path
    * through it produces bit-identical scores.
    */
  private def pivotScores(contribs: DataFrame, idCol: String, terms: Seq[String]): DataFrame = {
    val pivoted = contribs
      .groupBy(col(idCol)).agg(
        max(when(col("__tok") === terms.head, col("__c"))).as(s"__c_0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          max(when(col("__tok") === t, col("__c"))).as(s"__c_${i + 1}")
        }: _*)
    val score = terms.indices.map(i => coalesce(col(s"__c_$i"), lit(0.0)))
      .reduceLeft[Column](_ + _)
    pivoted.select(col(idCol), score.as("score"))
  }

  /** BM25 from a PERSISTED postings index ([[PostingsIndex]]) instead of
    * a corpus tokenize: `postings` is (doc, tok, tf), `doclen` is
    * (doc, dl) — the serve halves of the index. The probe plan touches
    * ONLY the query terms' posting lists plus the aggregate-sized doclen
    * table; the corpus text is never read. Shares [[contributionsFrom]]
    * and [[pivotScores]] with [[bm25]], so scores are bit-identical to
    * the recompute whenever the index reflects the corpus.
    */
  def bm25FromPostings(postings: DataFrame, doclen: DataFrame, terms: Seq[String],
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be non-empty and distinct")
    require(terms.length <= 64,
      s"bm25FromPostings pivots one aggregate column per term; got ${terms.length}, max 64")
    val tf = postings.filter(col("tok").isin(terms: _*))
      .select(col("doc"), col("tok").as("__tok"), col("tf").as("__tf"))
    val dl = doclen.select(col("doc"), col("dl").as("__dl"))
    pivotScores(contributionsFrom(tf, dl, "doc", k1, b), "doc", terms)
  }

  /** BM25 with a CONSTANT-WIDTH plan for large term sets: the per-term
    * contributions collect as (term index, contribution) pairs, sort by
    * term index, and fold left-associated — the same reduction order as
    * the pivot (adding 0.0 for an absent term is the IEEE identity), so
    * scores match [[bm25]] bit-for-bit while plan width stays O(1) in
    * the term count.
    */
  def bm25Fold(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be non-empty and distinct")
    val termIdx = array_position(array(terms.map(lit): _*), col("__tok"))
    contributions(docs, idCol, textCol, terms, k1, b)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(termIdx.as("i"), col("__c").as("c")))).as("__cs"))
      .select(col(idCol),
        aggregate(col("__cs"), lit(0.0), (acc, s) => acc + s.getField("c")).as("score"))
  }

  /** Corpus-trained bigram language-model likelihood score per document
    * — the KenLM-shaped fluency signal of the curation tier (beside the
    * heuristic quality score): gibberish and boilerplate-shuffled text
    * scores low because its token transitions are rare in the corpus,
    * fluent text scores high.
    *
    * The model is the corpus itself (train == score set, the classic
    * in-domain perplexity proxy): per bigram (prev, cur), the ML
    * conditional probability c(prev,cur)/c(prev) on an INTEGER
    * PARTS-PER-MILLION grid — `(1e6 * c2) div c1` — instead of log
    * space, because ln is libm-dependent while integer floor-division
    * is exact in any engine (same reasoning as the rational BM25 idf
    * above). A document's score is the integer mean of its bigram ppms:
    * avg_ppm = sum_ppm div n_bigrams. Monotone in average conditional
    * likelihood, so rankings are LM rankings.
    *
    * Scale shape: tokenize once; bigram and context counts are
    * map-side-combined aggregations over the BIGRAM DOMAIN (vocabulary²
    * bounded, corpus-distinct in practice — never raw-row-sized after
    * the combine); the score table joins back to the per-doc bigram
    * stream by (prev, cur) equi-join. Nothing driver-side, no window
    * over the corpus.
    *
    * Returns (idCol, n_bigrams, avg_ppm) for documents with >= 2
    * tokens; callers order.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the bigram stream feeds BOTH the count model and the scoring join:
    // materialize it once (q15/q17 checkpoint discipline) — lazily it
    // would tokenize+explode the corpus twice
    val bg = bigrams(docs, idCol, textCol).localCheckpoint(true)
    scoreAgainstBigrams(bg, idCol,
      bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2")))
  }

  /** The per-doc bigram stream (__doc, prev, cur). */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("__doc"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2) // guard BEFORE sequence: sequence(1, 0) would descend
      .select(col("__doc"), explode(expr(
        "transform(sequence(1, size(__toks) - 1), i -> struct(__toks[i-1] AS prev, __toks[i] AS cur))")).as("__b"))
      .select(col("__doc"), col("__b.prev").as("prev"), col("__b.cur").as("cur"))

  // --------------------------------------------- incremental LM model tier

  /** One drop's bigram count table (prev, cur, c2) — the LM model IS a
    * summable aggregate, so it maintains per drop like the
    * MaterializedAgg/Sketches tiers: land one segment per drop, serve
    * the sum. Context counts need no segment of their own: c1(prev) =
    * sum over cur of c2(prev, cur), derived from the merged counts at
    * serve time. A 100 TB corpus trains its fluency model O(drop) per
    * drop instead of O(corpus) per run.
    */
  def bigramCountSegment(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigrams(docs, idCol, textCol)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))

  def landLmDrop(docs: DataFrame, idCol: String, textCol: String,
                 path: String, dropId: String): Long = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    val spark = docs.sparkSession
    graft.lake.Staged.land(spark, s"$path/seg=$dropId",
      bigramCountSegment(docs, idCol, textCol))
  }

  /** RETRACTABLE form for upsert/delete feeds: one SIGNED count segment
    * from a pre-image-carrying change feed (insert/update_post bigrams
    * count +1, update_pre/delete bigrams −1), so a changed document's
    * old transitions cancel exactly — the merged model equals a
    * from-scratch retrain over the final corpus, maintained at
    * change-feed cost. The Delta-CDF pattern of
    * [[graft.lake.MaterializedAgg.landChangesDrop]], applied to an LM.
    */
  def landLmChangesDrop(changes: DataFrame, idCol: String, textCol: String,
                        path: String, dropId: String): Long = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    val spark = changes.sparkSession
    val pos = bigramCountSegment(
      changes.filter(col("change_type").isin("insert", "update_post")), idCol, textCol)
    val neg = bigramCountSegment(
      changes.filter(col("change_type").isin("update_pre", "delete")), idCol, textCol)
      .withColumn("c2", -col("c2"))
    graft.lake.Staged.land(spark, s"$path/seg=$dropId",
      pos.unionByName(neg).groupBy(col("prev"), col("cur")).agg(sum(col("c2")).as("c2")))
  }

  /** Merged model over every landed segment: counts sum exactly;
    * fully-retracted transitions (net 0 under the signed change
    * segments) drop out.
    */
  def serveLmCounts(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("prev"), col("cur")).agg(sum(col("c2")).as("c2"))
      .filter(col("c2") =!= 0)

  /** Fold every landed LM segment into one via the shared whole-root
    * swap — counts are summable so the served model is unchanged, the
    * segment count resets to 1, and fully-retracted (net-0) transitions
    * leave the physical table. The same compaction cadence hook as the
    * [[graft.ops.Sketches]] tiers.
    */
  def compactLm(spark: org.apache.spark.sql.SparkSession, path: String,
                dropId: String = "base"): Unit = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    graft.lake.Staged.swapRoot(spark, path,
      serveLmCounts(spark, path).localCheckpoint(true), s"seg=$dropId")
  }

  /** Score `docs` against an explicit count table (the serve half of the
    * incremental tier; [[bigramLmScore]] is this with counts built from
    * `docs` itself). Same integer-grid arithmetic, so scoring against
    * the merged segments of a partitioned corpus is bit-identical to
    * the from-scratch recompute.
    */
  def scoreAgainstCounts(docs: DataFrame, idCol: String, textCol: String,
                         counts: DataFrame): DataFrame =
    scoreAgainstBigrams(bigrams(docs, idCol, textCol), idCol, counts)

  private def scoreAgainstBigrams(bg: DataFrame, idCol: String,
                                  counts: DataFrame): DataFrame = {
    val c1 = counts.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val scored = counts.join(c1, "prev")
      // decimal(38,0) product: int64 would wrap silently past ~9e12
      // occurrences of one transition (the oracle's // is 128-bit);
      // identical value below that, no ceiling above it
      .withColumn("ppm", expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * c2) div c1 AS BIGINT)"))
    // LEFT join + ppm 0 for transitions the model never saw: an inner
    // join EXCLUDED them from both the count and the mean, so OOV
    // gibberish scored as fluent from its few common bigrams (and a
    // fully-unseen document vanished from the output). Self-trained
    // callers (bigramLmScore) are unaffected — every bigram is in the
    // model there. "Rare transitions score low" now holds for unseen
    // ones too, which is the fluency gate's whole point.
    bg.join(scored, Seq("prev", "cur"), "left_outer")
      .withColumn("ppm", coalesce(col("ppm"), lit(0L)))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("__sum_ppm"))
      .select(col("__doc").as(idCol), col("n_bigrams"),
        expr("CAST(__sum_ppm div n_bigrams AS BIGINT)").as("avg_ppm"))
  }

  /** The shared BM25 core: one row per (doc, matched term) with the
    * idf * tf-saturation contribution `__c` — everything past the
    * `tok IN terms` filter is posting-list-sized.
    */
  private def contributions(docs: DataFrame, idCol: String, textCol: String,
                            terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
    val dl = toks.select(col(idCol), size(col("__toks")).cast("long").as("__dl"))
    val tf = toks.select(col(idCol), explode(col("__toks")).as("__tok"))
      .filter(col("__tok").isin(terms: _*))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__tf"))
    contributionsFrom(tf, dl, idCol, k1, b)
  }

  /** The arithmetic core over pre-built (doc, term, tf) + (doc, dl)
    * frames — shared by the tokenize path ([[contributions]]) and the
    * persisted-index path ([[bm25FromPostings]]) so both produce the
    * same IEEE doubles. `tf` must already be restricted to the query
    * terms (df per term = its row count).
    */
  private[graft] def contributionsFrom(tf: DataFrame, dl: DataFrame, idCol: String,
                                       k1: Double, b: Double): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl"))
    // tf is unique per (doc, term), so df = row count per term
    val dfreq = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    // fixed parenthesization — every () below must match the oracle SQL
    // character-for-character in association order
    val idf = (col("__n").cast("double") - col("__df").cast("double") + lit(0.5)) /
      (col("__df").cast("double") + lit(0.5))
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val tfw = (col("__tf").cast("double") * (lit(k1) + lit(1.0))) /
      (col("__tf").cast("double") +
        lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (col("__dl").cast("double") / avgdl)))
    tf.join(broadcast(dfreq), "__tok")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__c", idf * tfw)
  }
}
