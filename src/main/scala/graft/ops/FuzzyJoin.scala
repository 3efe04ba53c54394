package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance self-join (entity resolution / fuzzy name matching):
  * all pairs within Levenshtein distance `maxDist`, without the n²
  * distance evaluations — the fuzzy sibling of the enrichment tier's
  * exact-id joins (the reference matches companies by exact NIF,
  * reference: nextplib/ntp_constants.py id fields; real-world name
  * columns need a tolerant join).
  *
  * Candidate generation is the PassJoin pigeonhole (Li et al.,
  * VLDB'11 — public): split every string into `n` contiguous chunks
  * with n > maxDist; `maxDist` edits can touch at most `maxDist`
  * chunks, so some chunk of x survives VERBATIM in any y within
  * distance, shifted by at most `maxDist` positions (the net indel
  * drift before it). So x emits its chunks keyed by (len, chunkIdx,
  * substring); y emits every substring that could BE such a chunk —
  * for each target length within ±maxDist of its own, each chunk slot,
  * each start offset in the ±maxDist window — and candidates are one
  * equi-join on the substring key. The filter is LOSSLESS: no true
  * pair can be missed, and survivors are verified with the exact
  * (codegen'd) levenshtein.
  *
  * Strings too short to chunk (len ≤ maxDist — a chunk would be empty
  * and match everything) pair inside the bounded `len ≤ 2·maxDist`
  * bucket instead: a pair with a ≤ maxDist side has BOTH sides ≤
  * 2·maxDist (length difference bounds edit distance), so the bucket
  * is complete and its pair count is bounded by the short-string
  * population, not the corpus.
  *
  * HOT-CHUNK GUARD (the round-13 templated-corpus finding): chunk keys
  * are only as selective as the data — a corpus where every value
  * shares a template prefix (the synthetic `Customer#…` names) funnels
  * |A|·|B| candidate pairs through that one shared chunk key. The
  * guard exploits pigeonhole SLACK: chunk into `maxDist+1+extra`
  * pieces instead of the minimum `maxDist+1`, and each string may then
  * DROP up to `extra` of its chunk emissions — it still emits ≥
  * maxDist+1 chunks, so at least one emitted chunk survives any
  * `maxDist` edits verbatim and the filter stays lossless. Strings
  * drop their most-populated chunk keys above `hotChunkCap`, so a
  * shared-template key stops generating pairs entirely (the probe side
  * still emits its windows; they just join against nothing). Per-key
  * candidate pairs are thereby bounded by `hotChunkCap · |B_key|`
  * wherever per-string hot chunks ≤ `extra`; a template whose shared
  * prefix spans several chunk slots needs a larger `extra` (each step
  * costs one more chunk per string and a (2d+1)-window probe arm).
  *
  * Scale posture: chunk/probe keys are substring-valued equi-join keys
  * — shuffle cost follows per-key pair counts (Σ |A_k|·|B_k|), i.e.
  * chunk SELECTIVITY, with the guard capping the A-side population of
  * any served key. The probe fan-out is (2d+1)²·(d+1+extra) rows per
  * string — constant in corpus size. A two-action [[prePass]] fixes the
  * plan; the guard adds a broadcast join and one per-string window over
  * the chunk frame, and only when some key is hot.
  */
object FuzzyJoin {

  /** Even chunking of a `len`-string into `n` chunks (first `len mod n`
    * chunks one longer): (chunkIdx, start, chunkLen), 1-based starts
    * for SQL substring. Requires len ≥ n (no empty chunk).
    */
  private[ops] def chunkSpecsN(len: Int, n: Int): Seq[(Int, Int, Int)] = {
    val base = len / n
    val extra = len % n
    val lens = Seq.tabulate(n)(i => base + (if (i < extra) 1 else 0))
    val starts = lens.scanLeft(1)(_ + _).init
    starts.zip(lens).zipWithIndex.map { case ((s, l), i) => (i, s, l) }
  }

  private[ops] def prep(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__l", length(col("__s")))
      .localCheckpoint(true) // chunk keys / probe keys / short bucket /
                             // verify join all reuse the prepared side

  /** Per-length chunk arity: `d+1+extra` when the string is long enough
    * for every chunk to be non-empty, else as many as fit (minimum
    * d+1 — shorter strings ride the short bucket). The droppable
    * budget per string is `arity - (d+1)`.
    */
  private def arity(la: Int, d: Int, extra: Int): Int =
    math.max(d + 1, math.min(d + 1 + extra, la))

  /** Pre-pass action 1: a prepared side's length histogram (length →
    * strings, bounded by the longest string). It gives the chunkable
    * lengths and |side|.
    */
  private[ops] def lengthHistogram(s: DataFrame): Map[Int, Long] = {
    val spark = s.sparkSession
    import spark.implicits._
    s.groupBy(col("__l")).count().as[(Int, Long)].collect().toMap
  }

  /** The chunkable lengths of a prepared side — the driver-side seed
    * for both chunk and window spec frames.
    */
  private[ops] def chunkLens(a: DataFrame, d: Int): Seq[Int] =
    lengthHistogram(a).keys.filter(_ >= d + 1).toSeq.sorted

  /** A hot chunk key (length, chunk slot, content) and its population;
    * the fields are the persisted index's `hot` columns.
    */
  private[ops] final case class HotKey(la: Int, i: Int, key: String, pop: Long)

  /** The chunked side's plan inputs: chunkable lengths, size, hot keys
    * and the unguarded Σ pop² (it bounds the guarded one from above).
    */
  private[ops] final case class PrePass(lens: Seq[Int], n: Long, hot: Seq[HotKey],
                                        vol: Long)

  /** The unguarded chunk emissions: (__aid, __la, __i, __key) rows. */
  private def chunkKeys(a: DataFrame, aLens: Seq[Int], d: Int, extra: Int): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val specA = aLens.flatMap(la =>
      chunkSpecsN(la, arity(la, d, extra)).map { case (i, st, cl) => (la, i, st, cl) })
      .toDF("__la", "__i", "__st", "__cl")
    a.filter(col("__l") >= d + 1)
      .join(broadcast(specA), col("__l") === col("__la"))
      .select(col("__id").as("__aid"), col("__la"), col("__i"),
        expr("substring(__s, __st, __cl)").as("__key"))
  }

  /** One aggregate over chunk emissions: Σ pop² over their key
    * populations and the keys with pop > cap (none when cap ≤ 0) — at
    * most |keys|/cap rows reach the driver.
    */
  private def keyStats(keys: DataFrame, cap: Long): (Long, Seq[HotKey]) = {
    val pops = keys.groupBy(col("__la"), col("__i"), col("__key"))
      .agg(count(lit(1)).as("__pop"))
    val r = pops.agg(sum(col("__pop") * col("__pop")),
      collect_list(when(lit(cap > 0L) && col("__pop") > cap, struct(col("__la"), col("__i"), col("__key"), col("__pop")))))
      .head()
    val hot = r.getSeq[Row](1)
      .map(h => HotKey(h.getInt(0), h.getInt(1), h.getString(2), h.getLong(3)))
      .sortBy(h => (h.la, h.i, h.key))
    (if (r.isNullAt(0)) 0L else r.getLong(0), hot)
  }

  /** The pre-pass every fuzzy entry point plans from: given the length
    * histogram (action 1), one aggregate over the UNGUARDED chunk keys
    * (action 2).
    */
  private[ops] def prePass(a: DataFrame, hist: Map[Int, Long], d: Int, extra: Int,
                           hotChunkCap: Long): PrePass = {
    val lens = hist.keys.filter(_ >= d + 1).toSeq.sorted
    val (vol, hot) = keyStats(chunkKeys(a, lens, d, extra), hotChunkCap)
    PrePass(lens, hist.values.sum, hot, vol)
  }

  /** Guarded chunk emissions of the chunked side: (__aid, __la, __i,
    * __key) rows plus the HOT-KEY list the guard dropped against.
    *
    * Hot-chunk drop: each string sheds its keys that appear on the hot
    * list, at most (arity(la) - (d+1)) of them — ≥ d+1 chunks remain
    * emitted, so the pigeonhole coverage argument is untouched. The
    * budget derives from the ROW's length: a string too short for the
    * full d+1+extra arity has less slack and may drop fewer.
    *
    * The hot list is driver-side: the pre-pass's, or the list a
    * persisted index pinned at build so refresh emissions stay
    * comparable across drops (a key that turns hot only after build
    * keeps serving pairs until a rebuild — a performance drift, never a
    * correctness one). `pinnedHot = None` measures this corpus's own
    * list. An empty list returns the plain emissions: no join, no window.
    */
  private[ops] def chunkKeysGuarded(a: DataFrame, aLens: Seq[Int], d: Int,
                                    extra: Int, hotChunkCap: Long,
                                    pinnedHot: Option[Seq[HotKey]]): (DataFrame, DataFrame) = {
    val spark = a.sparkSession
    import spark.implicits._
    val aKeysAll = chunkKeys(a, aLens, d, extra)
    val hotList =
      if (hotChunkCap <= 0L) Nil // guard disabled
      else pinnedHot.getOrElse(keyStats(aKeysAll, hotChunkCap)._2)
    // each key carries its POPULATION so a string over its droppable
    // budget sheds the hottest first (the per-key pair bound); an older
    // index's list without populations carries 0: index order
    val hot = hotList.toDF("__la", "__i", "__key", "__pop")
    if (hotList.isEmpty) return (aKeysAll, hot)
    // hot keys outrank non-hot under the desc flag order, then the most
    // populated hot key ranks first, so rank ≤ budget drops exactly the
    // string's HOTTEST keys, up to the budget
    val wHot = Window.partitionBy(col("__aid"))
      .orderBy(col("__ishot").desc, col("__pop").desc, col("__i").asc)
    val droppable = greatest(lit(0),
      least(lit(extra), col("__la") - lit(d + 1)))
    val aKeys = aKeysAll
      .join(broadcast(hot.withColumn("__ishot", lit(true))), Seq("__la", "__i", "__key"),
        "left_outer")
      .withColumn("__ishot", coalesce(col("__ishot"), lit(false)))
      .withColumn("__pop", coalesce(col("__pop"), lit(0L)))
      .withColumn("__hotrk", row_number().over(wHot))
      .filter(!(col("__ishot") && col("__hotrk") <= droppable))
      .select(col("__aid"), col("__la"), col("__i"), col("__key"))
    (aKeys, hot)
  }

  /** Window emissions of the probing side: every substring of a `b`
    * string that could BE a chunk of an `aLens`-length partner — per
    * target length within ±d, per chunk slot, per ±d start offset.
    * (2d+1)·Σ arity rows per string, constant in corpus size.
    */
  private[ops] def windowKeys(b: DataFrame, aLens: Seq[Int], d: Int,
                              extra: Int): DataFrame = {
    val spark = b.sparkSession
    import spark.implicits._
    val specB = aLens.flatMap(la =>
      chunkSpecsN(la, arity(la, d, extra)).flatMap { case (i, st, cl) =>
        (-d to d).map(off => (la, i, st + off, cl)) })
      .filter(_._3 >= 1)
      .toDF("__la", "__i", "__bst", "__cl")
    b.join(broadcast(specB),
        col("__la").between(col("__l") - d, col("__l") + d) &&
          col("__bst") + col("__cl") - 1 <= col("__l"))
      .select(col("__id").as("__bid"), col("__la"), col("__i"),
        expr("substring(__s, __bst, __cl)").as("__key"))
  }

  /** Short-string pairs: an `a` too short to chunk (len ≤ d) forces its
    * partner under 2d — pair inside the bounded short buckets
    * (population-, not corpus-, sized).
    */
  private[ops] def shortPairs(a: DataFrame, b: DataFrame, d: Int): DataFrame =
    a.filter(col("__l") <= d)
      .select(col("__id").as("__aid"), col("__l").as("__al"))
      .join(b.filter(col("__l") <= 2 * d)
          .select(col("__id").as("__bid"), col("__l").as("__bl")),
        abs(col("__al") - col("__bl")) <= d)
      .select(col("__aid"), col("__bid"))

  // ------------------------------------------------------------------
  // COMPLEMENT-KEY ESCALATION (the round-14 "per-key quadratic
  // residual" fix): when the served singleton chunk keys are measurably
  // unselective (a templated corpus where every served key still
  // carries thousands of strings), singleton keys are REPLACED by
  // positional complement keys — the PartEnum-flavored refinement
  // (Arasu et al., VLDB'06 — public): split each string into
  // n1 = d+2+extra sub-chunks; the keys are the concatenations of every
  // (n1−d)-subset that EXCLUDES some d sub-chunks. Pigeonhole: d edits
  // damage at most d sub-chunks (a substitution damages the sub-chunk
  // holding it; an indel damages one sub-chunk and only DRIFTS the
  // later ones), so the key excluding a d-superset of the damaged set
  // survives with every component verbatim, each component shifted by
  // the net indels before it. The probe side therefore emits, per
  // (target length, key id), every drift combo (o1..ok) realizable by
  // ≤ d indels — |o1| + Σ|o_{j+1} − o_j| ≤ d — and candidates are one
  // equi-join on (la, keyId, concatenated content). LOSSLESS for the
  // same reason the singleton scheme is, and each key now carries
  // (n1−d)/n1 of the string's content instead of ~1/(d+1+extra): a
  // shared template spanning one sub-chunk stops dominating because
  // every key also embeds the string's distinctive spans.
  //
  // The escalation is GATED ON MEASURED VOLUME, never assumed (the
  // round-14 lesson that refinements can LOSE selectivity): the pass
  // switches to complement keys only when Σ pop² over the SERVED
  // singleton keys exceeds candBudgetPerString · |A| ([[escalates]]).
  // Healthy corpora never pay the (C(n1,d) · combos) probe fan-out; a
  // templated corpus trades it for populations split by content the
  // singletons never saw.
  // ------------------------------------------------------------------

  /** The excluded d-subsets of sub-chunk slots, in a fixed order (the
    * key id is the subset's index).
    */
  private[ops] def excludedSubsets(n1: Int, d: Int): Seq[Seq[Int]] =
    (0 until n1).combinations(d).map(_.toSeq).toSeq

  /** Component drift combos realizable by ≤ d indels: the net drift
    * before component 1 costs |o1| indels, each adjacent change costs
    * |o_{j+1} − o_j| more, and the total indel budget is d.
    */
  private[ops] def driftCombos(k: Int, d: Int): Seq[Seq[Int]] = {
    def rec(prev: Int, left: Int, budget: Int): Seq[List[Int]] =
      if (left == 0) Seq(Nil)
      else (-d to d).toSeq.flatMap { o =>
        val cost = math.abs(o - prev)
        if (cost <= budget) rec(o, left - 1, budget - cost).map(o :: _) else Nil
      }
    rec(0, k, d)
  }

  /** |driftCombos(k, d)| WITHOUT materializing the combos — a
    * (position, prev offset, remaining budget) DP, so the fan-out cap
    * below can be checked before building anything.
    */
  private[ops] def driftComboCount(k: Int, d: Int): Long = {
    val memo = new java.util.HashMap[(Int, Int, Int), java.lang.Long]()
    def rec(prev: Int, left: Int, budget: Int): Long =
      if (left == 0) 1L
      else {
        val key = (prev, left, budget)
        val cached = memo.get(key)
        if (cached != null) cached.longValue()
        else {
          val v = (-d to d).map { o =>
            val cost = math.abs(o - prev)
            if (cost <= budget) rec(o, left - 1, budget - cost) else 0L
          }.sum
          memo.put(key, java.lang.Long.valueOf(v))
          v
        }
      }
    rec(0, k, d)
  }

  /** Escalation fan-out bound (round-15 advisor finding): the
    * driver-side spec frames are |escLens| · C(n1, d) (chunk side) and
    * |escLens| · C(n1, d) · |driftCombos| (probe side); at the allowed
    * parameter extremes (d = 8, extra = 8 ⇒ n1 = 18, C(18,8) = 43758,
    * drift combos in the millions) that materialization and broadcast
    * blow up. Above the cap the pass stays on the classic guarded
    * keys — a performance fallback, never a correctness change (both
    * filters are lossless).
    */
  private[ops] val EscFanoutCap = 200000L

  /** The complement keys' sub-chunk count. */
  private[ops] def escN1(d: Int, extra: Int): Int = d + 2 + math.max(1, extra)

  /** The volume gate of [[candidates]] and [[FuzzyJoinIndex]]'s build:
    * do the served keys `guarded` carry Σ pop² over budget·|A|? After the
    * free fan-out cap, the pre-pass's unguarded bound decides with no job
    * unless keys are hot and the bound is over budget (templated corpora).
    */
  private[ops] def escalates(pre: PrePass, guarded: DataFrame, d: Int, extra: Int,
                             candBudgetPerString: Long): Boolean = {
    val limit = candBudgetPerString * math.max(1L, pre.n)
    candBudgetPerString > 0L && escFanoutOk(escN1(d, extra), d) && pre.vol > limit &&
      (pre.hot.isEmpty || keyStats(guarded, 0L)._1 > limit)
  }

  private[graft] def escFanoutOk(n1: Int, d: Int): Boolean = {
    // C(n1, d) with overflow-free early exit against the cap
    var c = 1L
    var i = 0
    while (i < d && c <= EscFanoutCap) { c = c * (n1 - i) / (i + 1); i += 1 }
    c <= EscFanoutCap && {
      val combos = driftComboCount(n1 - d, d)
      combos <= EscFanoutCap && c * combos <= EscFanoutCap
    }
  }

  private def escSpecDf(spark: org.apache.spark.sql.SparkSession,
                        rows: Seq[org.apache.spark.sql.Row], k: Int,
                        withEnd: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = Seq(StructField("__la", IntegerType), StructField("__kid", IntegerType)) ++
      (1 to k).flatMap(j => Seq(StructField(s"__st$j", IntegerType),
        StructField(s"__cl$j", IntegerType))) ++
      (if (withEnd) Seq(StructField("__maxend", IntegerType)) else Nil)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StructType(fields))
  }

  private def escKeyExpr(k: Int) = expr("concat(" +
    (1 to k).map(j => s"substring(__s, __st$j, __cl$j)").mkString(", ") + ")")

  /** The chunked side's complement-key emissions for the lengths in
    * `escLens` (each ≥ n1 so every sub-chunk is non-empty): per string,
    * the C(n1, d) concatenations of every (n1−d)-subset excluding some
    * d sub-chunks. Rows (__aid, __la, __kid, __key); the spec frame is
    * driver-built and broadcast (lengths × keys rows — bounded by
    * [[EscFanoutCap]], never corpus-sized). Shared by the recompute
    * pass and [[FuzzyJoinIndex]] (the round-15 verdict weak item: the
    * persisted index previously always chunked classic singleton keys,
    * re-opening the per-key quadratic the recompute pass had closed).
    */
  private[graft] def escAKeys(a: DataFrame, d: Int, n1: Int,
                              escLens: Seq[Int]): DataFrame = {
    val spark = a.sparkSession
    val k = n1 - d
    val excl = excludedSubsets(n1, d)
    val aRows = for {
      la <- escLens
      bounds = chunkSpecsN(la, n1)
      (ex, kid) <- excl.zipWithIndex
      comps = bounds.collect { case (i, st, cl) if !ex.contains(i) => (st, cl) }
    } yield org.apache.spark.sql.Row.fromSeq(
      la +: kid +: comps.flatMap { case (st, cl) => Seq(st, cl) })
    a.join(broadcast(escSpecDf(spark, aRows, k, withEnd = false)),
        col("__l") === col("__la"))
      .select(col("__id").as("__aid"), col("__la"), col("__kid"),
        escKeyExpr(k).as("__key"))
  }

  /** The probing side's complement-key emissions: per (target length,
    * key id), every drift combo (o1..ok) realizable by ≤ d indels —
    * |o1| + Σ|o_{j+1} − o_j| ≤ d. Rows (__bid, __la, __kid, __key).
    */
  private[graft] def escBKeys(b: DataFrame, d: Int, n1: Int,
                              escLens: Seq[Int]): DataFrame = {
    val spark = b.sparkSession
    val k = n1 - d
    val excl = excludedSubsets(n1, d)
    val combos = driftCombos(k, d)
    val bRows = for {
      la <- escLens
      bounds = chunkSpecsN(la, n1)
      (ex, kid) <- excl.zipWithIndex
      comps = bounds.collect { case (i, st, cl) if !ex.contains(i) => (st, cl) }
      off <- combos
      drifted = comps.zip(off).map { case ((st, cl), o) => (st + o, cl) }
      if drifted.forall(_._1 >= 1)
    } yield org.apache.spark.sql.Row.fromSeq(
      la +: kid +: drifted.flatMap { case (st, cl) => Seq(st, cl) } :+
        drifted.map { case (st, cl) => st + cl - 1 }.max)
    b.join(broadcast(escSpecDf(spark, bRows, k, withEnd = true)),
        col("__la").between(col("__l") - d, col("__l") + d) &&
          col("__maxend") <= col("__l"))
      .select(col("__id").as("__bid"), col("__la"), col("__kid"),
        escKeyExpr(k).as("__key"))
  }

  /** Candidate pairs under complement keys — one equi-join of the two
    * emission sides on (length, key id, concatenated content).
    */
  private[ops] def escalatedCandidates(a: DataFrame, b: DataFrame, d: Int,
                                       n1: Int, escLens: Seq[Int]): DataFrame =
    escAKeys(a, d, n1, escLens)
      .join(escBKeys(b, d, n1, escLens), Seq("__la", "__kid", "__key"))
      .select(col("__aid"), col("__bid"))

  /** The pigeonhole candidate pass shared by the self- and two-table
    * joins: `a` contributes chunks, `b` contributes window probes
    * (coverage needs only ONE side chunked — the surviving chunk of an
    * `a` string appears verbatim in its `b` partner). Returns candidate
    * (__aid, __bid) pairs; the caller verifies with the exact
    * levenshtein. Short `a` strings (too short to chunk) pair against
    * the bounded short bucket of `b`.
    *
    * The plan, the guard's hot list included, comes from `a`'s
    * [[prePass]].
    *
    * `candBudgetPerString > 0` arms the volume gate ([[escalates]]): if
    * the guarded singleton keys' Σ pop² exceeds budget·|A|, lengths ≥
    * d+2+extra switch to complement keys (see the escalation note);
    * shorter lengths keep singletons (too short to sub-chunk), and the
    * short bucket is untouched. 0 keeps the classic pass unconditionally.
    */
  private[graft] def candidates(a: DataFrame, b: DataFrame, d: Int,
                                extra: Int, hotChunkCap: Long,
                                candBudgetPerString: Long = 0L): DataFrame =
    plannedCandidates(a, lengthHistogram(a), b, d, extra, hotChunkCap, candBudgetPerString)

  /** [[candidates]] given `a`'s length histogram. */
  private def plannedCandidates(a: DataFrame, aHist: Map[Int, Long], b: DataFrame,
                                d: Int, extra: Int, hotChunkCap: Long,
                                candBudgetPerString: Long): DataFrame = {
    val pre = prePass(a, aHist, d, extra, hotChunkCap)
    val (aKeys, _) = chunkKeysGuarded(a, pre.lens, d, extra, hotChunkCap, Some(pre.hot))
    def classic(lens: Seq[Int], keys: DataFrame): DataFrame =
      keys.join(windowKeys(b, lens, d, extra), Seq("__la", "__i", "__key"))
        .select(col("__aid"), col("__bid"))
    val candLong =
      if (!escalates(pre, aKeys, d, extra, candBudgetPerString)) classic(pre.lens, aKeys)
      else {
        val n1 = escN1(d, extra)
        val escLens = pre.lens.filter(_ >= n1)
        val keepLens = pre.lens.filter(_ < n1)
        val kept =
          if (keepLens.isEmpty) None
          else Some(classic(keepLens,
            aKeys.filter(col("__la").isin(keepLens.map(Integer.valueOf): _*))))
        val esc = escalatedCandidates(a, b, d, n1, escLens)
        kept.fold(esc)(_ unionByName esc)
      }
    candLong.unionByName(shortPairs(a, b, d))
  }

  /** All (a, b, dist) pairs with `levenshtein ≤ maxDist`, a < b by id.
    * Null strings drop (no distance to measure); ids must be unique.
    * `extraChunks`/`hotChunkCap` tune the hot-chunk guard (see the
    * object doc); `hotChunkCap = 0` disables it. `candBudgetPerString`
    * arms the measured-volume complement-key escalation (0 disables).
    */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
                           maxDist: Int, extraChunks: Int = 1,
                           hotChunkCap: Long = 4096L,
                           candBudgetPerString: Long = 16L): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8, s"maxDist must be in [1, 8]: $maxDist")
    require(extraChunks >= 0 && extraChunks <= 8,
      s"extraChunks must be in [0, 8]: $extraChunks")
    val s = prep(df, idCol, strCol)
    candidates(s, s, maxDist, extraChunks, hotChunkCap, candBudgetPerString)
      .filter(col("__aid") =!= col("__bid"))
      .select(least(col("__aid"), col("__bid")).as("a"),
        greatest(col("__aid"), col("__bid")).as("b"))
      .distinct()
      .join(s.select(col("__id").as("a"), col("__s").as("__sa")), "a")
      .join(s.select(col("__id").as("b"), col("__s").as("__sb")), "b")
      // BOUNDED levenshtein (optimization round 20, guide §1.2 step 2):
      // the threshold form runs the banded O(maxDist·len) DP with early
      // exit instead of the full O(len²) grid, returning -1 past the
      // bound — for every kept row (dist ≤ maxDist) the value is the
      // exact distance, so the output is bit-identical
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Two-table form — the entity-resolution LOOKUP: every probe row
    * matched against the reference within `maxDist` (probe chunks,
    * reference probes the windows; the pigeonhole needs only one side
    * chunked, so a probe shorter than maxDist+1 falls back to the
    * bounded short bucket of the reference). Returns
    * (probe_id, ref_id, dist).
    */
  def editDistanceJoin(probes: DataFrame, probeId: String, probeStr: String,
                       reference: DataFrame, refId: String, refStr: String,
                       maxDist: Int, extraChunks: Int = 1,
                       hotChunkCap: Long = 4096L,
                       candBudgetPerString: Long = 16L): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8, s"maxDist must be in [1, 8]: $maxDist")
    require(extraChunks >= 0 && extraChunks <= 8,
      s"extraChunks must be in [0, 8]: $extraChunks")
    // each side's prep (a checkpoint job) and its length histogram are
    // independent of the other side's — overlap the two chains (guide §2.6)
    val ((p, pHist), (r, rHist)) = graft.core.Overlap.both(
      { val s = prep(probes, probeId, probeStr); (s, lengthHistogram(s)) },
      { val s = prep(reference, refId, refStr); (s, lengthHistogram(s)) })
    // Direction (guide §2.3 "shuffle fewer bytes"): candidates(a, b)
    // charges the CHUNK multiplier (~d+1+extra rows/string) to `a` and
    // the much larger WINDOW/drift multiplier to `b`. The pigeonhole is
    // direction-symmetric and the exact verify decides membership, so
    // the BIG side (by its histogram's total) takes the small multiplier.
    val cand =
      if (pHist.values.sum >= rHist.values.sum)
        plannedCandidates(p, pHist, r, maxDist, extraChunks, hotChunkCap, candBudgetPerString)
          .select(col("__aid").as("probe_id"), col("__bid").as("ref_id"))
      else
        plannedCandidates(r, rHist, p, maxDist, extraChunks, hotChunkCap, candBudgetPerString)
          .select(col("__bid").as("probe_id"), col("__aid").as("ref_id"))
    cand
      .distinct()
      .join(p.select(col("__id").as("probe_id"), col("__s").as("__sa")), "probe_id")
      .join(r.select(col("__id").as("ref_id"), col("__s").as("__sb")), "ref_id")
      // bounded levenshtein — banded DP + early exit, -1 past the bound;
      // kept rows carry the exact distance (see editDistanceSelfJoin)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("probe_id"), col("ref_id"), col("dist"))
  }
}
