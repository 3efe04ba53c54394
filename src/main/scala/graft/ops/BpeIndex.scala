package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted learned-BPE vocabulary — the tokenizer as a lake artifact
  * (the pinned-codebook posture of [[SimilarityIndex]] /
  * [[FuzzyJoinIndex]]): train once, serve token counts many times,
  * extend the word cache on churn WITHOUT retraining. Layout at `path`
  * (one [[graft.lake.Staged.landMany]] root — old, new, or none):
  *
  *  - `merges` — (merge_rank, lhs, rhs, merged, cnt): the learned merge
  *    list, PINNED at build. A refresh never rewrites it: retraining on
  *    a grown corpus would re-tokenize every cached word and silently
  *    change every downstream token count — changing the vocabulary is
  *    an explicit [[build]] decision, exactly like re-seeding an IVF
  *    codebook;
  *  - `word_tokens` — (word, n_tokens): learned token counts of every
  *    word seen so far — the serve-side cache. Vocab-sized (Heaps'
  *    law), grows with NEW words only;
  *  - `meta` — (n_merges): the build parameter.
  *
  * Freshness contract: [[tokenCounts]] joins against the cache and
  * tokenizes any word the cache does not cover yet inline under the
  * pinned merges — a lagging cache costs compute on the missing words,
  * never a wrong count.
  */
object BpeIndex {

  /** The pinned merge list in rank order (throws if no index). */
  def readMerges(spark: SparkSession, path: String): Seq[Bpe.Merge] = {
    val p = new org.apache.hadoop.fs.Path(path + "/merges")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no BPE index at $path — build it first")
    spark.read.parquet(path + "/merges").collect()
      .map(r => Bpe.Merge(r.getAs[Long]("merge_rank").toInt,
        r.getAs[String]("lhs"), r.getAs[String]("rhs"), r.getAs[Long]("cnt")))
      .sortBy(_.rank).toSeq
  }

  /** Train on the corpus and persist merges + the initial word cache.
    * Returns (nMergesLearned, nWordsCached).
    */
  def build(df: DataFrame, textCol: String, path: String,
            nMerges: Int): (Int, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = Bpe.wordCounts(df, textCol).localCheckpoint(true)
    val merges = Bpe.trainOnCounts(words, nMerges)
    val cache = Bpe.wordTokenCounts(words.select(col("word")), merges)
    val landed = graft.lake.Staged.landMany(spark, path, Seq(
      "merges" -> Bpe.mergesDf(spark, merges),
      "word_tokens" -> cache,
      "meta" -> Seq(nMerges).toDF("n_merges")))
    words.unpersist()
    (merges.size, landed("word_tokens"))
  }

  /** Churn-proportional cache refresh under the PINNED merges: tokenize
    * only the corpus words the cache has never seen; carried words keep
    * their rows verbatim (the cache only grows — a vanished word is a
    * harmless cached fact, not staleness). Returns (carried, fresh).
    */
  def refresh(df: DataFrame, textCol: String, path: String): (Long, Long) = {
    val spark = df.sparkSession
    val merges = readMerges(spark, path)
    val cached = spark.read.parquet(path + "/word_tokens")
    val vocab = Bpe.preTokens(df, textCol).distinct()
    val fresh = vocab.join(cached, Seq("word"), "left_anti").localCheckpoint(true)
    // the two counts are independent — overlap them (guide §2.6). The
    // carried count must COMPLETE before the landing swaps the root it
    // scans (`cached` reads the live path unpersisted), so it overlaps
    // only the fresh count, never the land.
    val (carriedN, freshN) = graft.core.Overlap.both(cached.count(), fresh.count())
    if (freshN > 0)
      graft.lake.Staged.landMany(spark, path, Seq(
        "merges" -> spark.read.parquet(path + "/merges"),
        "word_tokens" -> cached.unionByName(Bpe.wordTokenCounts(fresh, merges)),
        "meta" -> spark.read.parquet(path + "/meta")))
    (carriedN, freshN)
  }

  /** Serve per-document learned token counts against the index: cached
    * words ride the cache join; uncovered words are tokenized inline
    * under the pinned merges (lagging cache costs compute, never
    * correctness). Output (idCol, n_bpe_tokens) matches
    * [[Bpe.docTokenCounts]] under the same merges exactly.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
                  path: String): DataFrame = {
    val spark = df.sparkSession
    val merges = readMerges(spark, path)
    val cached = spark.read.parquet(path + "/word_tokens")
    val perDocWord = df
      .select(col(idCol), explode(regexp_extract_all(col(textCol),
        lit(Bpe.PreTokenRegex), lit(0))).as("__rw"))
      .select(col(idCol), Bpe.mapWord(col("__rw")).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__n"))
    val uncovered = perDocWord.select(col("word")).distinct()
      .join(cached, Seq("word"), "left_anti")
    val wt = cached.unionByName(Bpe.wordTokenCounts(uncovered, merges))
    perDocWord.join(wt, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("__n") * col("n_tokens")).cast("long").as("n_bpe_tokens"))
  }
}
