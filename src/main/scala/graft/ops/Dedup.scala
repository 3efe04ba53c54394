package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus curation at 100 TB scale:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Design for scale:
  *  - exact dedup is one hash-shuffle on a 16-byte digest (not the text);
  *  - MinHash/LSH turns O(n^2) pair comparison into a band-bucket
  *    self-join whose shuffle key is the band signature — only documents
  *    sharing a band ever meet, and AQE handles hot buckets;
  *  - SimHash is per-row Column algebra (shuffle-free until the
  *    band-join), with 64-bit signatures packed as bit-strings;
  *  - Jaccard verification runs only on LSH candidates, never all pairs.
  *
  * All hashing is md5-based so the operators are engine-agnostic and
  * exactly reproducible (same candidates on any backend — the
  * correctness oracle relies on this).
  */
object Dedup {
  import TextAnalysis.tokens

  /** Word `w`-shingles of the token stream, space-joined, deduplicated.
    *
    * Built by folding `zip_with` over shifted copies of the token array
    * so the (expensive) tokenization chain only ever appears in HOF
    * *argument* position — argument arrays are evaluated once per row,
    * while any expression inside a lambda body is re-evaluated per
    * element (an `element_at(tokens(text), i)` formulation is O(tokens^2)
    * per row and was measured 25x slower). Trailing positions where the
    * shifted copies run out null-propagate through concat and are
    * filtered. The w=3 fold produces the exact expression shape (and
    * hashes) the oracle queries were verified against.
    */
  def shingles(text: Column, w: Int = 3): Column = {
    require(w >= 2, s"shingles: window must be >= 2, got $w")
    val toks = tokens(text)
    val joined = (2 to w).foldLeft(toks) { (acc, i) =>
      val shifted = slice(toks, lit(i), greatest(size(toks) - (i - 1), lit(0)))
      zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(joined, x => x.isNotNull))
  }

  /** One MinHash value: lexicographic min of md5("<seed>|" + shingle).
    * The md5-hex min is a valid min-wise hash (uniform over shingles) and
    * is reproducible in any engine with md5. (Single-seed form — for a
    * full signature use `minhashSignature`, which folds every seed into
    * ONE pass over the shingle array.)
    */
  def minhash(sh: Column, seed: Int): Column =
    array_min(transform(sh, s => md5(concat(lit(s"$seed|"), s))))

  /** MinHash signature as an array of `k` hex digests: for each seed,
    * the lexicographic min of md5("<seed>|" + shingle) over the array.
    * Native codegen'd kernel (functions.MinHashSig) — one compiled pass
    * over the shingles. The earlier `aggregate`+`zip_with` fold was
    * algorithmically identical but interpreted: its per-element lambda
    * dispatch turned megamorphic late in long sessions and poisoned every
    * query scheduled after the dedup block (round-2 bench). '~' (0x7e)
    * sorts after every hex digit, so it is the identity for empty shingle
    * arrays (callers filter size >= 1).
    */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.functions.TextHashes.minhash_signature(sh, k)

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`
    * hashes, each group concatenated into one bucket key. Two documents
    * collide on a band iff that band's hashes all match. `sig` is a
    * `minhashSignature(_, bands * rowsPerBand)` column.
    */
  def bandKeysFromSignature(sig: Column, bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      concat_ws("#", (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }

  /** Candidate near-duplicate pairs via MinHash LSH: documents sharing at
    * least one band. Returns distinct (a, b) with a < b.
    * One shuffle on the band key; candidate count is data-dependent, not
    * O(n^2). The shingle set is materialized as a column first so the
    * bands*rowsPerBand hash expressions share one tokenization (multi-use
    * attributes are not inlined by CollapseProject).
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    minhashCandidatesFromShingles(
      docs.select(col(idCol).as("doc"), shingles(col(textCol)).as("sh")),
      bands, rowsPerBand)

  /** Candidate pairs from a precomputed (doc, sh) shingle frame — callers
    * that also need the shingles downstream (Jaccard verification) build
    * and persist that frame ONCE and share it, instead of re-tokenizing
    * the corpus per consumer.
    */
  def minhashCandidatesFromShingles(shingled: DataFrame,
                                    bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val withSig = shingled.filter(size(col("sh")) >= 1)
      .withColumn("__sig", minhashSignature(col("sh"), bands * rowsPerBand))
    val keys = bandKeysFromSignature(col("__sig"), bands, rowsPerBand)
    // localCheckpoint, not persist: the self-join would otherwise
    // evaluate the whole shingle+minhash pipeline once per side, and a
    // persist here can never be unpersisted (the caller materializes the
    // returned frame later) — it leaked one cache entry per call.
    // Checkpoint blocks are reclaimed by the ContextCleaner once the
    // frame is unreachable (the roundtrip-query discipline).
    val banded = withSig
      .select(col("doc"), posexplode(array(keys: _*)).as(Seq("band", "key")))
      .localCheckpoint(true)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .distinct()
  }

  /** Connected components over an undirected candidate-pair graph.
    * Every node's label converges to the minimum node id in its component.
    * Returns (node, component). Nodes absent from `edges` are the
    * caller's singletons (left-join and coalesce to self).
    *
    * Two execution tiers, size-gated like Versions.resolveChains'
    * broadcast decision:
    *  - edge sets at or below `driverMaxEdges` run a driver union-find
    *    (one collect, path-compressed, min-root). After LSH the candidate
    *    edges are a small fraction of the corpus, so this is the common
    *    case even at large scale — and it replaces ~6 scheduled rounds of
    *    join+checkpoint+collect (13-19 s of fixed per-call overhead
    *    measured at sf0.1, regardless of graph size) with two jobs. The
    *    result comes back as a local relation, so the planner sees exact
    *    stats and broadcast-joins it downstream — no shuffle in consumers.
    *  - bigger graphs fall back to distributed min-label propagation
    *    (`propagateComponents`), whose per-round cost is what a
    *    billion-edge graph actually needs.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "a", dstCol: String = "b",
                          maxIter: Int = 32, driverMaxEdges: Long = 1L << 20,
                          driverMaxBytes: Long = 64L << 20): DataFrame = {
    Seq(srcCol, dstCol).foreach { c =>
      require(Set[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
          .contains(edges.schema(c).dataType),
        s"connectedComponents needs integral node ids; '$c' is " +
          s"${edges.schema(c).dataType.catalogString} — map string ids to " +
          "a dense integer surrogate first (an ANSI cast would abort " +
          "mid-job; a legacy cast would null-collapse distinct nodes)")
    }
    val e = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    // byte gate from the populated cache's measured stats, mirroring
    // Versions.resolveChains: the collect must fit driver heap by BYTES,
    // a row count alone can't promise that
    val nBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val out =
      if (nEdges <= driverMaxEdges && nBytes <= driverMaxBytes)
        driverComponents(e)
      else propagateComponents(e, maxIter)
    e.unpersist(blocking = false)
    out
  }

  /** Driver-side union-find over a collected edge list (small-graph tier
    * of `connectedComponents`). Path compression + union-by-min-root, so
    * labels are exactly the component-min node id — byte-identical to the
    * distributed tier's fixpoint.
    */
  private def driverComponents(e: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    e.collect().foreach { row =>
      val u = row.getLong(0); val v = row.getLong(1)
      if (!parent.contains(u)) parent(u) = u
      if (!parent.contains(v)) parent(v) = v
      val ru = find(u); val rv = find(v)
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    val nodes = parent.keys.toArray
    val spark = e.sparkSession
    import spark.implicits._
    nodes.map(n => (n, find(n))).toSeq.toDF("node", "component")
  }

  /** Distributed min-label propagation (big-graph tier of
    * `connectedComponents`): each round is one shuffle-join + aggregate,
    * localCheckpoint'ed to cut the growing lineage with the same
    * leave-nothing-persisted hygiene as Versions.resolveChains.
    * Convergence is detected by the (strictly monotone) sum of labels —
    * one cheap aggregate, no row-wise compare.
    */
  private def propagateComponents(e: DataFrame, maxIter: Int): DataFrame = {
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val maxBefore = sc.getPersistentRDDs.keySet.maxOption.getOrElse(Int.MinValue)
      val cp = df.localCheckpoint(eager = true)
      (cp, sc.getPersistentRDDs.keySet.filter(_ > maxBefore).toSet)
    }
    def free(ids: Set[Int]): Unit =
      ids.foreach(i => sc.getPersistentRDDs.get(i).foreach(_.unpersist(blocking = false)))

    var (labels, ids) = tracked(sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")))
    var sum = labels.agg(org.apache.spark.sql.functions.sum("label")).collect().head.getLong(0)
    var moved = true
    var i = 0
    // one propagation hop: label(node) := min(label, min over neighbors)
    def hop(l: DataFrame): DataFrame = {
      val nmin = sym.join(l, col("u") === col("node"))
        .groupBy(col("v")).agg(min(col("label")).as("nmin"))
      l.join(nmin, col("node") === col("v"), "left_outer")
        .select(col("node"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    while (moved && i < maxIter) {
      // two hops per round: same join work overall, but HALF the
      // checkpoint + convergence-collect rounds (the driver-side cost
      // that dominates on small candidate graphs)
      val (next, nextIds) = tracked(hop(hop(labels)))
      val nextSum = next.agg(org.apache.spark.sql.functions.sum("label")).collect().head.getLong(0)
      moved = nextSum != sum
      sum = nextSum
      free(ids); labels = next; ids = nextIds
      i += 1
    }
    sym.unpersist(blocking = false)
    // a silent unconverged exit would split one real component into
    // several and downstream dedup would keep duplicate clusters with no
    // sign anything failed — refuse instead
    require(!moved,
      s"component propagation did not converge in $maxIter rounds " +
        s"(graph diameter exceeds ${2 * maxIter}); raise maxIter")
    val out = labels.select(col("node"), col("label").as("component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    free(ids)
    out
  }

  /** Train/eval decontamination — the pretraining hygiene step: flag
    * every train document sharing at least one w-token shingle with any
    * eval document (benchmark leakage check). Candidate generation is a
    * semi-join on the shingle string: the shuffle carries
    * (shingle, doc_id) rows — never documents, never pairs — and the
    * eval side is distinct'd first, so a shingle appearing in thousands
    * of eval docs contributes ONE join row. At 100 TB this is the same
    * bucketed-equi-join scale shape as the LSH band join; eval sets are
    * benchmark-sized, so the distinct'd eval side typically broadcasts.
    * Returns the contaminated train ids (distinct).
    */
  def contaminated(train: DataFrame, evalSet: DataFrame, idCol: String,
                   textCol: String, w: Int = 3, minShared: Int = 1): DataFrame =
    contaminatedFromShingles(
        train.select(col(idCol).as("doc"), shingles(col(textCol), w).as("sh")),
        evalSet.select(shingles(col(textCol), w).as("sh")), minShared)
      .select(col("doc").as(idCol))

  /** [[contaminated]] over precomputed `(doc, sh)` / `(sh)` shingle
    * frames — pipelines that also LSH the same corpus
    * ([[minhashCandidatesFromShingles]]) build and persist the shingle
    * frame ONCE and share it instead of re-tokenizing per consumer.
    */
  def contaminatedFromShingles(trainSh: DataFrame, evalSh: DataFrame,
                               minShared: Int = 1): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val tr = trainSh.select(col("doc"), explode(col("sh")).as("__sh"))
    val ev = evalSh.select(explode(col("sh")).as("__sh")).distinct()
    if (minShared == 1)
      // cheapest shape: semi-join short-circuits per (doc, shingle)
      tr.join(ev, Seq("__sh"), "left_semi").select(col("doc")).distinct()
    else
      // threshold knob: a single shared w-gram is a noisy signal on web
      // text; require >= minShared DISTINCT shared shingles (shingles()
      // is per-doc distinct already, so plain count == distinct count)
      tr.join(ev, Seq("__sh"))
        .groupBy(col("doc")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= minShared).select(col("doc"))
  }

  /** Graded contamination report — [[contaminated]]'s analyst tier: for
    * every train document sharing at least one w-gram with the eval
    * set, the COUNT and FRACTION of its distinct shingles that leak.
    * The binary flag answers "drop it?"; the fraction separates a stray
    * common phrase (0.01) from a paraphrased benchmark item (0.5+) and
    * is what a curation run actually thresholds on. Same scale shape as
    * the flag: one equi-join on the shingle (the eval side distinct'd
    * and small), one per-doc aggregate — the one exact division is the
    * last step, same parenthesization both engines.
    */
  def contaminationReport(train: DataFrame, evalSet: DataFrame, idCol: String,
                          textCol: String, w: Int = 3): DataFrame = {
    val tr = train.select(col(idCol).as("doc"),
      explode(shingles(col(textCol), w)).as("__sh"))
    val ev = evalSet.select(explode(shingles(col(textCol), w)).as("__sh"))
      .distinct().withColumn("__hit", lit(1L))
    tr.join(ev, Seq("__sh"), "left_outer")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .filter(col("n_shared") > 0)
      .withColumn("overlap",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
  }

  /** Exact-substring decontamination — the strictest leakage test: a
    * train document is contaminated iff some eval needle (the eval
    * text column, typically an example or a canonical prefix of one)
    * occurs VERBATIM inside it. The needle set is broadcast (benchmark
    * suites are tiny next to a training corpus) and the probe is a
    * per-row contains scan under a broadcast nested-loop join — no
    * shuffle, corpus-scan-bound at 100 TB. Complements [[contaminated]]:
    * w-gram overlap catches paraphrase-level leakage but can
    * false-positive on common phrases; verbatim containment cannot.
    * Empty needles are dropped (they would match every document).
    */
  def contaminatedExact(train: DataFrame, evalSet: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val needles = broadcast(
      evalSet.select(col(textCol).as("__needle"))
        .filter(length(col("__needle")) > 0).distinct())
    train.select(col(idCol), col(textCol))
      .join(needles, col(textCol).contains(col("__needle")))
      .select(col(idCol)).distinct()
  }

  /** Corpus-level span dedup (the C4/line-dedup shape): the token stream
    * of every document is cut into non-overlapping `window`-token blocks
    * (trailing partial block kept), and any block occurring in MORE than
    * one document survives only in the lowest-id document — every other
    * copy is dropped and the texts are reassembled in original block
    * order. Unlike the per-document signals ([[TextAnalysis.dupNgramFrac]])
    * this removes duplication ACROSS documents — boilerplate, quoted
    * headers, license blocks.
    *
    * Scale shape: the global keep-decision groups on `md5(block)` — the
    * wide shuffle key is a 32-char digest with map-side-combined `min`,
    * never the block text, so a block repeated 10^8 times costs its
    * combiner one row per map task (the follow-up equi-join on the
    * digest is AQE-skew-splittable). Reassembly (round-15 verdict:
    * previously every kept block's TEXT round-tripped through a
    * collect_list shuffle) now shuffles only the DROPPED block indexes
    * per doc — duplicated regions, not the corpus — and text_clean is
    * rebuilt by re-slicing the original token array map-side.
    *
    * Returns (idCol, n_blocks, n_dropped, text_clean) for EVERY input
    * document (a fully-deduplicated document keeps its row with
    * text_clean = '').
    */
  def dedupSpansGlobal(docs: DataFrame, idCol: String, textCol: String,
                       window: Int = 8): DataFrame = {
    require(window >= 1, s"span window must be >= 1, got $window")
    val base = docs.select(col(idCol).as("__doc"), tokens(col(textCol)).as("__toks"))
      .withColumn("__nb",
        ceil(size(col("__toks")).cast("double") / window).cast("int"))
    // digests only on the wide path: (doc, idx, md5) — block text never
    // leaves the scan projection
    val exploded = base.filter(col("__nb") > 0)
      .select(col("__doc"), posexplode(transform(sequence(lit(0), col("__nb") - 1),
        i => md5(concat_ws(" ", slice(col("__toks"), i * window + 1, lit(window))))))
        .as(Seq("__idx", "__h")))
    val keepDoc = exploded.groupBy("__h").agg(min(col("__doc")).as("__keep_doc"))
    val droppedIdx = exploded.join(keepDoc, Seq("__h"))
      .filter(col("__doc") =!= col("__keep_doc"))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("__nd"), array_sort(collect_list(col("__idx"))).as("__didx"))
    base.join(droppedIdx, Seq("__doc"), "left_outer")
      .withColumn("__didx", coalesce(col("__didx"), array().cast("array<int>")))
      .select(col("__doc").as(idCol),
        col("__nb").cast("long").as("n_blocks"),
        coalesce(col("__nd"), lit(0L)).as("n_dropped"),
        when(col("__nb") === 0, lit("")).otherwise(array_join(
          transform(
            filter(sequence(lit(0), col("__nb") - 1),
              i => !array_contains(col("__didx"), i)),
            i => concat_ws(" ", slice(col("__toks"), i * window + 1, lit(window)))),
          " ")).as("text_clean"))
  }

  /** Any-alignment duplicate-span dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr shape, re-expressed for Spark): every SLIDING
    * `window`-token gram of every document is an occurrence; each
    * distinct gram keeps exactly one CANONICAL occurrence (the
    * lexicographically smallest (doc, position)), and every token
    * covered by a non-canonical occurrence of a duplicated gram is
    * removed. A duplicated span of length L ≥ window produces
    * L−window+1 overlapping duplicated grams whose extents union to the
    * WHOLE span — so a duplicate shifted by one token (which the
    * fixed-block [[dedupSpansGlobal]] provably misses) is caught at any
    * alignment, and within-document repetition dedups the same way.
    * The suffix-array machinery of the paper is replaced by the sliding
    * gram + extent union, which removes the same ≥window-token
    * duplicated spans (canonical copies of overlapping distinct spans
    * can shade into each other; the union rule over-removes those rare
    * overlaps rather than under-removing).
    *
    * Scale shape: occurrences shuffle as (md5 digest, doc, pos) — one
    * row per token position, never gram text; the canonical choice is a
    * map-side-combined min(struct). Non-canonical occurrences come back
    * as EXTENT rows [start, start+window-1] — duplicated regions only —
    * which aggregate per doc into a sorted interval list; dup-token
    * counts and text_clean derive map-side by a linear sweep over that
    * list against the original token array (round-15 verdict: the
    * previous reassembly posexploded EVERY corpus token and
    * collect_list'ed it back — a corpus-sized one-row-per-token shuffle
    * this rewrite removes).
    *
    * Returns (idCol, n_tokens, n_dup_tokens, text_clean) for every
    * input document.
    */
  def dedupSpansAnyAlign(docs: DataFrame, idCol: String, textCol: String,
                         window: Int = 8): DataFrame = {
    require(window >= 2, s"span window must be >= 2, got $window")
    val base = docs.select(col(idCol).as("__doc"), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val occ = base.filter(col("__n") >= window)
      .select(col("__doc"), posexplode(transform(
        sequence(lit(0), col("__n") - window),
        i => md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(window))))))
        .as(Seq("__i", "__h")))
    val canon = occ.groupBy(col("__h"))
      .agg(min(struct(col("__doc"), col("__i"))).as("__c"))
    val extents = occ.join(canon, Seq("__h"))
      .filter(col("__c.__doc") =!= col("__doc") || col("__c.__i") =!= col("__i"))
      .groupBy(col("__doc"))
      .agg(array_sort(collect_list(
        struct(col("__i").as("__s"), (col("__i") + (window - 1)).as("__e")))).as("__ext"))
    // linear interval sweep per doc: covered-token count and the kept
    // complement slices, both against the ORIGINAL token array — no
    // per-position explosion, no token round-trip through a shuffle
    val dupCount = aggregate(col("__ext"),
      struct(lit(0L).as("cov"), lit(-1).as("ce")),
      (acc, x) => struct(
        (acc.getField("cov") + greatest(lit(0L),
          (x.getField("__e") - greatest(x.getField("__s"), acc.getField("ce") + 1) + 1)
            .cast("long"))).as("cov"),
        greatest(acc.getField("ce"), x.getField("__e")).as("ce")),
      a => a.getField("cov"))
    val keptParts = aggregate(col("__ext"),
      struct(lit(0).as("pos"), array().cast("array<array<string>>").as("ps")),
      (acc, x) => struct(
        greatest(acc.getField("pos"), x.getField("__e") + 1).as("pos"),
        when(x.getField("__s") > acc.getField("pos"),
          concat(acc.getField("ps"), array(slice(col("__toks"),
            acc.getField("pos") + 1, x.getField("__s") - acc.getField("pos")))))
          .otherwise(acc.getField("ps")).as("ps")),
      a => concat(a.getField("ps"),
        when(col("__n") > a.getField("pos"),
          array(slice(col("__toks"), a.getField("pos") + 1,
            col("__n") - a.getField("pos"))))
          .otherwise(array().cast("array<array<string>>"))))
    base.join(extents, Seq("__doc"), "left_outer")
      .withColumn("__ext",
        coalesce(col("__ext"), array().cast("array<struct<__s:int,__e:int>>")))
      .select(col("__doc").as(idCol),
        col("__n").cast("long").as("n_tokens"),
        dupCount.as("n_dup_tokens"),
        array_join(flatten(keptParts), " ").as("text_clean"))
  }

  /** n-gram Jaccard similarity between two shingle-set columns. Exact
    * rational arithmetic (intersection/union sizes) until the final
    * division, so it's deterministic.
    */
  def jaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    val union = size(array_union(shA, shB)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Asymmetric CONTAINMENT near-dup pairs over a precomputed (doc, sh)
    * shingle frame: every (a, b, containment) with
    * containment = |sh(a) ∩ sh(b)| / |sh(a)| >= threshold, a != b —
    * i.e. "doc a is mostly contained in doc b". This is the case
    * symmetric-Jaccard LSH structurally misses: a short doc swallowed
    * by a much longer one has high containment but arbitrarily low
    * Jaccard, so its MinHash signatures rarely collide. (Exact result;
    * reference behaviour is field-equality only — this is the
    * beyond-reference curation tier.)
    *
    * Scale design — never all-pairs, and shingle ARRAYS never shuffle:
    *  1. explode to postings (doc, s); shingles are distinct within a
    *     doc (array_distinct upstream), so posting-join MATCH COUNTS
    *     are set intersections.
    *  2. PPJoin-style prefix filter: order each doc's shingles
    *     rarest-first by global document frequency. A pair with
    *     overlap >= t := ceil(threshold * n_a) must share one of the
    *     first n_a - t + 1 shingles of a in ANY fixed global order
    *     (pigeonhole: only t - 1 < t shingles lie outside that
    *     prefix), so only the prefix probes the posting index — and
    *     rarest-first ordering pushes stop-shingles out of prefixes,
    *     bounding candidate fan-out by the rare shingles' df, not the
    *     hot ones'. The prefix length uses a 1e-9 slack so double
    *     rounding of threshold * n_a can only LENGTHEN the prefix
    *     (candidate superset — never misses).
    *  3. exact verify by co-counting full postings per candidate pair
    *     (one equi-join on (b, s) + groupBy) — carries (a, b, s) rows,
    *     never arrays; the final division is the only float op, so the
    *     decision matches any engine computing the same two integers.
    */
  def containmentPairs(shingled: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold must be in (0, 1], got $threshold")
    val post = shingled.filter(size(col("sh")) >= 1)
      .select(col("doc"), explode(col("sh")).as("s"))
    val docN = shingled.filter(size(col("sh")) >= 1)
      .select(col("doc"), size(col("sh")).as("n"))
    val dfreq = post.groupBy("s").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("df"), col("s"))
    val prefix = post.join(dfreq, "s")
      .withColumn("__rk", row_number().over(byRarity))
      .join(docN, "doc")
      .filter(col("__rk") <=
        col("n") - ceil(col("n") * threshold - 1e-9) + 1)
      .select(col("doc").as("a"), col("s"))
    val cand = prefix
      .join(post.select(col("doc").as("b"), col("s")), "s")
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val inter = cand
      .join(post.select(col("doc").as("a"), col("s")), "a")
      .join(post.select(col("doc").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("__inter"))
    inter.join(docN.select(col("doc").as("a"), col("n")), "a")
      .select(col("a"), col("b"),
        (col("__inter").cast("double") / col("n").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** 64-bit SimHash over the token multiset, returned as a 64-char '0'/'1'
    * bit-string (MSB first). Bit b is 1 iff the b-th bit of md5(token)
    * (taken from the first 16 hex chars) is set in the weighted majority
    * of tokens. Per-row, no shuffle; the vote fold is a native codegen'd
    * kernel (functions.SimHashBits) — see minhashSignature for why the
    * interpreted HOF form had to go.
    */
  def simhashBits(text: Column): Column =
    graft.functions.TextHashes.simhash_bits(tokens(text))

  /** SimHash near-duplicate candidates: split the 64-bit signature into
    * `chunks` contiguous blocks; by pigeonhole, any pair within Hamming
    * distance < chunks shares at least one identical block — so the
    * block value is a correct LSH bucket key for that radius.
    *
    * The signature is carried as `chunks` int64 words (parsed once per
    * doc), so per-pair Hamming is xor + bit_count — the bit-string
    * zip_with form costs ~1 ms/pair interpreted and dominated the whole
    * query on clustered corpora where buckets produce 100k+ raw pairs.
    */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        chunks: Int = 4, maxHamming: Int = 3): DataFrame =
    hammingCandidatesFromBits(
      docs.select(col(idCol).as("doc"), simhashBits(col(textCol)).as("sig")),
      chunks, maxHamming)

  /** The generic pigeonhole core behind [[simhashCandidates]], usable for
    * ANY 64-char '0'/'1' signature column — text SimHash, image
    * average-hash ([[Multimodal.imageHashes]]), audio fingerprints.
    * Input: (doc, sig); output: (a, b, hamming) pairs within
    * `maxHamming`, found via chunk-bucket equi-join (never all pairs).
    */
  def hammingCandidatesFromBits(sigs: DataFrame, chunks: Int = 4,
                                maxHamming: Int = 3): DataFrame = {
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    require(chunks >= 2,
      "chunks=1 needs the whole 64-bit signature as one bucket key, which " +
        "overflows conv->long for high-bit signatures; a maxHamming=0 " +
        "dedup is the exact-match groupBy, not a pigeonhole join")
    require(maxHamming < chunks,
      s"pigeonhole needs maxHamming < chunks (got $maxHamming >= $chunks): " +
        "a pair may differ in every chunk and never share a bucket")
    val width = 64 / chunks
    val wordCols = (0 until chunks).map { c =>
      conv(substring(col("sig"), c * width + 1, width), 2, 10).cast("long").as(s"w$c")
    }
    val sig = sigs
      .select(col("doc") +: wordCols: _*)
      .localCheckpoint(true) // reclaimed when unreachable; persist leaked
    val banded = sig.select(col("doc"),
      posexplode(array((0 until chunks).map(c => col(s"w$c")): _*)).as(Seq("chunk", "key")))
    val hamming = (0 until chunks)
      .map(c => bit_count(col(s"x.w$c").bitwiseXOR(col(s"y.w$c"))))
      .reduce(_ + _)
    banded.as("bx").join(banded.as("by"),
        col("bx.chunk") === col("by.chunk") && col("bx.key") === col("by.key") &&
          col("bx.doc") < col("by.doc"))
      .select(col("bx.doc").as("a"), col("by.doc").as("b"))
      .distinct()
      .join(sig.as("x"), col("a") === col("x.doc"))
      .join(sig.as("y"), col("b") === col("y.doc"))
      .select(col("a"), col("b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** URL-level dedup: one row per CANONICAL url
    * ([[graft.functions.CanonicalUrl]] — case/port/escape/tracking-param/
    * trailing-slash normalization), keeping the min-id variant. The
    * web-corpus front gate: crawl frontiers and link graphs reference
    * the same resource under per-click dirt, and URL identity is decided
    * BEFORE any fetch or content hash exists. Output: (canon_url,
    * keep_id, n_variants).
    *
    * Scale shape: the canonical key is per-row codegen'd string algebra,
    * the keep decision ONE hash-groupBy shuffle carrying (canon_url, id)
    * — same posture as exact content dedup, no pairs anywhere.
    */
  def urlCanonicalKeep(df: DataFrame, idCol: String, urlCol: String,
                       extraDrop: Set[String] = Set.empty): DataFrame =
    df.select(col(idCol),
        graft.functions.CanonicalUrl.canonical_url(col(urlCol), extraDrop).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_variants"))
}
