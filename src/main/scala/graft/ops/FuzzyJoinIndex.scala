package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.ChurnSplit

/** Persisted PassJoin chunk index — fuzzy entity resolution against a
  * MASTER table as a lake artifact instead of a per-batch rebuild.
  *
  * The recompute form ([[FuzzyJoin.editDistanceJoin]]) chunks one side
  * and window-probes the other inside every call — the right shape for
  * a one-shot join and the wrong one for the reference's actual cadence
  * (monthly dirty drops resolved against a slowly-churning company
  * master, reference: OLD/get_entities.py's id matching generalized to
  * tolerant name matching): at 100 TB the master's chunk keys should be
  * built once, refreshed on churn, and probed many times — the
  * [[DedupIndex]] / [[SimilarityIndex]] posture. Layout at `path`
  * (one [[graft.lake.Staged.landMany]] root — old index, new index, or
  * none; never torn):
  *
  *  - `strings` — (id, s, l): the master rows (the verify join and the
  *    short bucket read these; the string IS its own change
  *    fingerprint);
  *  - `keys` — (id, la, i, key): the guarded chunk emissions of every
  *    master string long enough to chunk — `arity - droppedHot` rows
  *    per string, linear in the master;
  *  - `hot` — (la, i, key): the hot-key list PINNED at build (the
  *    pinned-codebook posture): refresh drops new strings' chunks
  *    against this same list, so emissions stay comparable across
  *    drops. A key that turns hot only after build keeps serving pairs
  *    until an explicit rebuild re-tunes the list — a performance
  *    drift, never a correctness one (serving MORE candidates is
  *    always lossless; the verify is exact);
  *  - `meta` — (max_dist, extra_chunks, hot_chunk_cap): the build
  *    parameters every probe/refresh must agree on.
  *
  * `refresh` re-chunks ONLY new/changed master strings (anti-join on
  * (id, s)), carries every other string's key rows verbatim, drops
  * vanished ids. `probe` window-probes a batch against the persisted
  * keys — the master is touched only through index tables: zero master
  * chunking at probe time, probe cost = (2d+1)·Σarity rows per probe
  * string + per-key candidate pairs. Output matches
  * [[FuzzyJoin.editDistanceJoin]] exactly (the pigeonhole filter is
  * lossless in both directions and the levenshtein verify is exact, so
  * WHICH side is chunked never changes the verified result).
  */
object FuzzyJoinIndex {

  /** `keyScheme` is the round-16 escalation pin (the round-15 verdict
    * weak item): "classic" = guarded singleton chunk keys everywhere;
    * "complement" = lengths ≥ `n1` emit PartEnum-style complement keys
    * ([[FuzzyJoin.escAKeys]]) instead — chosen at BUILD from the
    * measured Σ pop² of the served singleton keys, exactly like the
    * recompute pass's volume gate, and pinned so refresh emissions and
    * probe windows always agree with the stored keys. Old indexes
    * without the columns read back as classic.
    */
  final case class Meta(maxDist: Int, extraChunks: Int, hotChunkCap: Long,
                        keyScheme: String, n1: Int)

  /** The pinned build parameters (throws if no index at `path`) —
    * public so callers can assert their expectations against the index
    * instead of silently probing at a different distance than intended.
    */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(path + "/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no fuzzy-join index at $path — build it first")
    val df = spark.read.parquet(path + "/meta")
    val r = df.collect().head
    val (scheme, n1) =
      if (df.columns.contains("key_scheme"))
        (r.getAs[String]("key_scheme"), r.getAs[Int]("n1"))
      else ("classic", 0)
    Meta(r.getAs[Int]("max_dist"), r.getAs[Int]("extra_chunks"),
      r.getAs[Long]("hot_chunk_cap"), scheme, n1)
  }

  private def tables(spark: SparkSession, path: String): (DataFrame, DataFrame) = (
    spark.read.parquet(path + "/strings")
      .select(col("id").as("__id"), col("s").as("__s"), col("l").as("__l")),
    spark.read.parquet(path + "/keys")
      .select(col("id").as("__aid"), col("la").as("__la"),
        col("i").as("__i"), col("key").as("__key")))

  /** The scheme-aware key emissions of a prepped side: classic guarded
    * singletons for every chunkable length under the classic scheme;
    * under complement, lengths < n1 keep singletons (too short to
    * sub-chunk) and lengths ≥ n1 emit complement keys with the key id
    * stored in the `i` slot (the length partitions the two key spaces,
    * so probe joins can never cross schemes).
    */
  private def schemeKeys(prepped: DataFrame, aLens: Seq[Int], meta: Meta,
                         pinnedHot: Seq[FuzzyJoin.HotKey]): DataFrame = {
    val (classic, _) = FuzzyJoin.chunkKeysGuarded(prepped,
      if (meta.keyScheme == "complement") aLens.filter(_ < meta.n1) else aLens,
      meta.maxDist, meta.extraChunks, meta.hotChunkCap, Some(pinnedHot))
    if (meta.keyScheme != "complement") classic
    else classic.unionByName(
      FuzzyJoin.escAKeys(prepped, meta.maxDist, meta.n1, aLens.filter(_ >= meta.n1))
        .select(col("__aid"), col("__la"), col("__kid").as("__i"), col("__key")))
  }

  /** Build from scratch over the master `reference`. Returns indexed
    * string count. Parameters are pinned in `meta`; `hotChunkCap = 0`
    * disables the guard (every chunk served). `candBudgetPerString > 0`
    * arms the volume gate: when the guarded singleton keys' measured
    * Σ pop² exceeds budget·|master| (and the escalation fan-out cap
    * allows), the index is BUILT under complement keys — the pinned
    * sibling of [[FuzzyJoin.candidates]]'s recompute-time gate. The plan
    * comes from the same pre-pass ([[FuzzyJoin.prePass]]), and the
    * `hot` and `lens` tables land from its driver-side rows.
    */
  def build(reference: DataFrame, refId: String, refStr: String, path: String,
            maxDist: Int, extraChunks: Int = 1, hotChunkCap: Long = 4096L,
            candBudgetPerString: Long = 0L): Long = {
    require(maxDist >= 1 && maxDist <= 8, s"maxDist must be in [1, 8]: $maxDist")
    require(extraChunks >= 0 && extraChunks <= 8,
      s"extraChunks must be in [0, 8]: $extraChunks")
    val spark = reference.sparkSession
    import spark.implicits._
    val r = FuzzyJoin.prep(reference, refId, refStr)
    val pre = FuzzyJoin.prePass(r, FuzzyJoin.lengthHistogram(r), maxDist, extraChunks,
      hotChunkCap)
    val (classicKeys, _) = FuzzyJoin.chunkKeysGuarded(
      r, pre.lens, maxDist, extraChunks, hotChunkCap, Some(pre.hot))
    val escalate =
      FuzzyJoin.escalates(pre, classicKeys, maxDist, extraChunks, candBudgetPerString)
    val meta = Meta(maxDist, extraChunks, hotChunkCap, if (escalate) "complement" else "classic",
      if (escalate) FuzzyJoin.escN1(maxDist, extraChunks) else 0)
    graft.lake.Staged.landMany(spark, path, Seq(
      "strings" -> stringsOut(r),
      "keys" -> keysOut(schemeKeys(r, pre.lens, meta, pre.hot)),
      "hot" -> pre.hot.toDF().coalesce(1),
      // the distinct chunkable lengths, persisted so PROBES never scan
      // the master just to learn them (at 100 TB the strings table is
      // corpus-sized; the length list is bounded by the longest string)
      "lens" -> pre.lens.toDF("l").coalesce(1),
      "meta" -> Seq((maxDist, extraChunks, hotChunkCap, meta.keyScheme, meta.n1))
        .toDF("max_dist", "extra_chunks", "hot_chunk_cap", "key_scheme", "n1")))
    pre.n
  }

  private def stringsOut(prepped: DataFrame): DataFrame =
    prepped.select(col("__id").as("id"), col("__s").as("s"), col("__l").as("l"))

  private def keysOut(keys: DataFrame): DataFrame =
    keys.select(col("__aid").as("id"), col("__la").as("la"),
      col("__i").as("i"), col("__key").as("key"))

  /** The churn split shared by [[refresh]] and [[upsert]] — the shared
    * [[graft.lake.ChurnSplit]] seam with the STRING as its own
    * fingerprint: diff the incoming rows against the indexed strings by
    * (id, s) and chunk ONLY the fresh side under the pinned hot list.
    * Returns the split, the old keys, the prepped incoming rows, the
    * checkpointed fresh rows, their keys and the pinned meta.
    */
  private def churnSplit(incoming: DataFrame, refId: String, refStr: String,
                         path: String): (ChurnSplit.Split, DataFrame, DataFrame,
                                         DataFrame, DataFrame, Meta) = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // the meta and pinned hot-list reads (at most |master|·arity/cap
    // rows) and the incoming-side prep are independent — overlap them
    val ((meta, pinnedHot), cur) = graft.core.Overlap.both({
      val hotRaw = spark.read.parquet(path + "/hot")
      // pre-pop indexes lack `pop`: a zero population drops in index order
      val hot = if (hotRaw.columns.contains("pop")) hotRaw else hotRaw.withColumn("pop", lit(0L))
      (readMeta(spark, path), hot.as[FuzzyJoin.HotKey].collect().toSeq)
    }, FuzzyJoin.prep(incoming, refId, refStr))
    val (oldStrings, oldKeys) = tables(spark, path)
    val s = ChurnSplit.split(oldStrings, "__id", "__s", cur, "__id", cur("__s"))
    val fresh = s.fresh.localCheckpoint(true)
    // fresh emissions follow the PINNED key scheme — a complement-built
    // index never mixes singleton rows into its escalated lengths
    val freshKeys = schemeKeys(fresh, FuzzyJoin.chunkLens(fresh, meta.maxDist),
      meta, pinnedHot)
    (s, oldKeys, cur, fresh, freshKeys, meta)
  }

  /** Churn-proportional refresh under the PINNED hot list: carry
    * unchanged strings' key rows verbatim, chunk only new/changed ids,
    * drop vanished ones. The passed `reference` is the full current
    * master (deletions are the difference). Returns
    * (carriedStrings, chunkedStrings), observed on the strings landing.
    */
  def refresh(reference: DataFrame, refId: String, refStr: String,
              path: String): (Long, Long) = {
    val spark = reference.sparkSession
    import spark.implicits._
    val (s, oldKeys, cur, fresh, freshKeys, meta) =
      churnSplit(reference, refId, refStr, path)
    // full-reference semantics: strings' = kept ∪ fresh (the passed
    // reference); keys of ids outside it (deletions) drop out via the
    // kept semi-join. The lens sidecar recomputes EXACTLY from cur (a
    // distinct over a checkpointed int column — map-side partial
    // aggregation collapses it to ~|distinct lengths| rows regardless of
    // corpus size)
    val (strings, counts) = ChurnSplit.observedUnion(path, s.kept, fresh)
    graft.lake.Staged.landMany(spark, path, Seq(
      "strings" -> stringsOut(strings),
      "keys" -> keysOut(
        oldKeys.join(s.kept.select(col("__id").as("__aid")), Seq("__aid"), "left_semi")
          .unionByName(freshKeys)),
      "hot" -> spark.read.parquet(path + "/hot"),
      "lens" -> FuzzyJoin.chunkLens(cur, meta.maxDist).toDF("l").coalesce(1),
      "meta" -> spark.read.parquet(path + "/meta")))
    counts()
  }

  /** Delta UPSERT — the streaming / foreachBatch form of [[refresh]]:
    * add or replace exactly the batch's master strings under the PINNED
    * hot list, leaving every other string's rows untouched (no drop
    * semantics — deletions are a master-level [[refresh]] decision, not
    * a micro-batch one). A re-delivered unchanged string keeps its key
    * rows verbatim, so replaying a feed never re-chunks the steady
    * state. Returns (carriedBatchStrings, chunkedBatchStrings).
    */
  def upsert(batch: DataFrame, refId: String, refStr: String,
             path: String): (Long, Long) = {
    val spark = batch.sparkSession
    import spark.implicits._
    val (s, oldKeys, cur, fresh, freshKeys, meta) =
      churnSplit(batch, refId, refStr, path)
    // delta-mode lens: old lens ∪ the batch's lengths — a SUPERSET of
    // the exact list when a replaced string removed a length (probing a
    // length with no master rows is lossless: its window keys match
    // nothing); the union avoids scanning the out-of-batch strings,
    // keeping upsert cost batch-proportional. A full refresh re-tightens
    // the list. Legacy indexes without a lens table keep not having one
    // (the probe falls back to the master scan).
    val lensP = new org.apache.hadoop.fs.Path(path + "/lens")
    val hasLens = lensP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(lensP)
    val lensTable =
      if (!hasLens) Nil
      else Seq("lens" -> spark.read.parquet(path + "/lens")
        .unionByName(FuzzyJoin.chunkLens(cur, meta.maxDist).toDF("l"))
        .distinct().coalesce(1))
    // delta semantics: strings/keys OUTSIDE this batch (others) stay
    // untouched; changed batch ids' old keys drop via the fresh anti-join
    val (batchStrings, counts) = ChurnSplit.observedUnion(path, s.kept, fresh)
    graft.lake.Staged.landMany(spark, path, Seq(
      "strings" -> stringsOut(s.others.unionByName(batchStrings)),
      "keys" -> keysOut(
        oldKeys.join(fresh.select(col("__id").as("__aid")), Seq("__aid"), "left_anti")
          .unionByName(freshKeys)),
      "hot" -> spark.read.parquet(path + "/hot"),
      "meta" -> spark.read.parquet(path + "/meta")) ++ lensTable)
    counts()
  }

  /** Resolve a probe batch against the indexed master: every
    * (probe_id, ref_id, dist) with `levenshtein ≤ maxDist` — identical
    * output to [[FuzzyJoin.editDistanceJoin]] against the master the
    * index currently reflects, with ZERO master-side chunking at probe
    * time (probes window-probe the persisted keys; the pigeonhole is
    * direction-symmetric, so chunking the master instead of the probes
    * preserves losslessness).
    */
  def probe(probes: DataFrame, probeId: String, probeStr: String,
            path: String): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    // probe prep (a checkpoint job) overlaps the meta read and the
    // length-list load behind it (guide §2.6). The indexed chunkable
    // lengths: the persisted sidecar when present (bounded by the
    // longest string — probes never scan the master just to learn
    // them), else the legacy distinct scan over the strings
    val (p, (meta, (refStrings, refKeys), aLens)) = graft.core.Overlap.both(
      FuzzyJoin.prep(probes, probeId, probeStr), {
        val meta = readMeta(spark, path)
        val ref = tables(spark, path)
        val lensP = new org.apache.hadoop.fs.Path(path + "/lens")
        (meta, ref,
          if (lensP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lensP))
            spark.read.parquet(path + "/lens").as[Int].collect().sorted.toSeq
          else FuzzyJoin.chunkLens(ref._1, meta.maxDist))
      })
    val d = meta.maxDist
    // probe emissions mirror the pinned key scheme: singleton windows
    // for classic lengths, drift-combo complement windows for escalated
    // ones (the length partitions the key spaces, so one union + one
    // equi-join serves both)
    val bKeys =
      if (meta.keyScheme != "complement")
        FuzzyJoin.windowKeys(p, aLens, d, meta.extraChunks)
      else
        FuzzyJoin.windowKeys(p, aLens.filter(_ < meta.n1), d, meta.extraChunks)
          .unionByName(
            FuzzyJoin.escBKeys(p, d, meta.n1, aLens.filter(_ >= meta.n1))
              .select(col("__bid"), col("__la"), col("__kid").as("__i"), col("__key")))
    val candLong = refKeys.join(bKeys, Seq("__la", "__i", "__key"))
      .select(col("__aid"), col("__bid"))
    candLong.unionByName(FuzzyJoin.shortPairs(refStrings, p, d))
      .distinct()
      .select(col("__bid").as("probe_id"), col("__aid").as("ref_id"))
      .join(p.select(col("__id").as("probe_id"), col("__s").as("__sa")), "probe_id")
      .join(refStrings.select(col("__id").as("ref_id"), col("__s").as("__sb")), "ref_id")
      // bounded levenshtein — banded O(d·len) DP + early exit, -1 past
      // the bound; kept rows carry the exact distance (see
      // FuzzyJoin.editDistanceSelfJoin)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("probe_id"), col("ref_id"), col("dist"))
  }
}
